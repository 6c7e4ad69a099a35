"""Streaming parity (SURVEY.md §7 M5): one availableNow pass of
``run_streaming_feed_ingestion_exactly_once`` = one tick of the interval
poller (S3, src/feeds/rss_feeds/mod.rs:71-92); the sink's dedup = the
batch job's rule plus the TTL cache probe (D1/D2,
src/cache/local/mod.rs:31-54), with the TTL running from first-seen
time.  The analytics sinks (windowed counts, HLL/CMS/quantile sketches)
follow."""

import shutil
from datetime import datetime, timedelta

import pytest
import pyspark.sql.functions as F

from news_rss_spark.operators.dedup import dedup_within_run
from news_rss_spark.operators.extraction import extract_articles, to_publish_news
from news_rss_spark.sources.rss_xml import documents_from_feeds
from news_rss_spark.streaming.stream import (
    FEEDS_DDL,
    run_streaming_feed_ingestion_exactly_once,
)

NOW = datetime(2025, 1, 15, 12, 0, 0)
NEWS_COLS = ["id", "message_url", "datetime", "source", "photo_path", "text"]


def _guid(i):
    return f"https://news.example/world/{i}"


def _item(i, pub_date="Wed, 15 Jan 2025 09:00:00 +0000"):
    """A guid/title/description item; ``pub_date=None`` leaves it undated.
    Description-only items extract ``ok``."""
    date = f"<pubDate>{pub_date}</pubDate>" if pub_date else ""
    return (f"<item><guid>{_guid(i)}</guid><title>Story {i}</title>"
            f"<description>What happened in story {i}.</description>"
            f"{date}</item>")


def _rss(items):
    """An RSS 2.0 feed snapshot of ``items`` (ints or ready item XML)."""
    body = "".join(_item(i) if isinstance(i, int) else i for i in items)
    return ('<?xml version="1.0" encoding="UTF-8"?><rss version="2.0">'
            "<channel><title>World</title><link>https://news.example/</link>"
            f"{body}</channel></rss>")


def _land(spark, feeds, xml):
    """Land one snapshot file, as the fetcher does before a poll tick."""
    spark.createDataFrame([("world", xml, NOW)], FEEDS_DDL) \
         .coalesce(1).write.mode("append").parquet(feeds)


def _rows(df):
    return sorted(tuple(r[c] for c in NEWS_COLS) for r in df.collect())


def _ids(spark, sink):
    return sorted(r["id"] for r in spark.read.parquet(sink).collect())


@pytest.fixture()
def poller(spark, tmp_path):
    """(land, tick, sink, ckpt): land a snapshot, run one poll pass."""
    feeds, sink, ckpt = (str(tmp_path / d) for d in ("feeds", "sink", "ckpt"))

    def tick(now_utc=NOW, **kw):
        run_streaming_feed_ingestion_exactly_once(spark, feeds, sink, ckpt,
                                                  now_utc=now_utc, **kw)

    return (lambda xml: _land(spark, feeds, xml)), tick, sink, ckpt


def _batch_rule(spark, xmls):
    """What the batch job's dedup rule publishes for these snapshots."""
    feeds = spark.createDataFrame([("world", x, NOW) for x in xmls], FEEDS_DDL)
    return dedup_within_run(to_publish_news(extract_articles(
        documents_from_feeds(feeds), now_utc=NOW)), key="id")


def test_available_now_matches_batch(spark, poller):
    """Two overlapping snapshots landed before one pass publish exactly
    what the batch job's rule makes of them, column for column (each guid
    once)."""
    land, tick, sink, _ = poller
    snaps = [_rss(range(0, 12)), _rss(range(4, 16))]
    land(snaps[0])
    land(snaps[1])
    tick()
    got = spark.read.parquet(sink)
    assert got.count() == 16
    assert _rows(got) == _rows(_batch_rule(spark, snaps))


def test_checkpoint_resume_processes_only_new_files(spark, poller):
    """A second pass with the same checkpoint ingests only the newly landed
    snapshot, and re-polled guids in it are not published again (the
    poller's seen-feed state as exactly-once offsets plus the sink's
    anti-join)."""
    land, tick, sink, _ = poller
    snaps = [_rss(range(0, 16)), _rss(range(10, 22))]
    land(snaps[0])
    tick()
    land(snaps[1])
    tick()
    got = spark.read.parquet(sink)
    assert sorted(r["id"] for r in got.filter(F.col("batch_id") == 1)
                  .collect()) == sorted(_guid(i) for i in range(16, 22))
    assert _rows(got) == _rows(_batch_rule(spark, snaps))


def test_undated_and_old_items_publish_once(poller, spark):
    """An undated item (EPOCH date) and a 400-day-old item are suppressed
    on re-poll like any other: the TTL runs from first-seen time, not from
    the article date."""
    land, tick, sink, _ = poller
    old = (NOW - timedelta(days=400)).strftime("%a, %d %b %Y %H:%M:%S +0000")
    xml = _rss([_item(1, pub_date=None), _item(2, pub_date=old), 3])
    for _ in range(3):
        land(xml)
        tick()
    assert _ids(spark, sink) == [_guid(1), _guid(2), _guid(3)]


def test_ttl_runs_from_first_seen(poller, spark):
    """A guid is suppressed while its first publish is younger than the
    120-day TTL, and published once more after it expires (moka's
    insertion-time time_to_live, then the reference's re-publish path)."""
    land, tick, sink, _ = poller
    xml = _rss([1])
    for now_utc in (NOW, NOW + timedelta(days=119), NOW + timedelta(days=121)):
        land(xml)
        tick(now_utc=now_utc)
    got = spark.read.parquet(sink).orderBy("batch_id").collect()
    assert [(r["id"], r["batch_id"]) for r in got] == [(_guid(1), 0),
                                                       (_guid(1), 2)]
    assert got[1]["first_seen"] == NOW + timedelta(days=121)


def test_exactly_once_sink_survives_batch_replay(spark, tmp_path):
    """foreachBatch exactly-once: a replayed batch (checkpoint wiped -> same
    input re-delivered as the same batch ids) overwrites its own batch_id
    partition instead of appending duplicates; even a corrupted partition
    heals on replay."""
    xml = _rss(range(20))
    feeds, sink, ckpt = (str(tmp_path / p) for p in ("feeds", "sink", "ckpt"))
    _land(spark, feeds, xml)

    run_streaming_feed_ingestion_exactly_once(spark, feeds, sink, ckpt,
                                              now_utc=NOW)
    first = spark.read.parquet(sink)
    assert first.count() == 20
    rows_before = {(r["id"], r["text"]) for r in first.collect()}

    # crash scenario: the data landed but the checkpoint commit was lost —
    # the batch is re-delivered with the same batch_id
    shutil.rmtree(ckpt)
    run_streaming_feed_ingestion_exactly_once(spark, feeds, sink, ckpt,
                                              now_utc=NOW)
    after = spark.read.parquet(sink)
    assert after.count() == 20  # no duplicate append
    assert {(r["id"], r["text"]) for r in after.collect()} == rows_before

    # a new poller tick with one genuinely new item appends exactly one row
    _land(spark, feeds, _rss(range(21)))
    run_streaming_feed_ingestion_exactly_once(spark, feeds, sink, ckpt,
                                              now_utc=NOW)
    final = spark.read.parquet(sink)
    assert final.count() == 21


def test_checkpoint_behind_sink_raises(poller, spark):
    """A checkpoint wiped after several ticks would restart batch ids below
    the sink's partitions and overwrite history: the pass raises and the
    sink is left as it was."""
    land, tick, sink, ckpt = poller
    for t in range(3):
        land(_rss(range(t, t + 4)))
        tick()
    before = _rows(spark.read.parquet(sink))
    shutil.rmtree(ckpt)
    land(_rss(range(3, 8)))
    with pytest.raises(Exception, match="checkpoint is behind its sink"):
        tick()
    assert _rows(spark.read.parquet(sink)) == before
    assert len(before) == 6


def test_poll_pass_timeout_raises(poller, spark):
    """A pass that overruns its timeout is stopped and raises; the next
    pass resumes from the checkpoint and leaves the right sink."""
    land, tick, sink, _ = poller
    land(_rss(range(5)))
    with pytest.raises(TimeoutError):
        tick(timeout_secs=0.001)
    tick()
    assert _ids(spark, sink) == sorted(_guid(i) for i in range(5))


def test_poll_tick_spark_job_budget(poller, spark):
    """A steady-state poll tick runs a fixed number of Spark jobs; a change
    that adds a pass over the sink or the batch shows up here.  Measured on
    Spark 4.1.2: 4 jobs over 5 stages -- the feed parse and extraction of
    the micro-batch, the broadcast of the sink's live ids, the in-batch
    dedup exchange, and the write (which lists the exchange's map stage as
    skipped)."""
    land, tick, _, _ = poller
    sc = spark.sparkContext
    store, bus = sc._jsc.sc().statusStore(), sc._jsc.sc().listenerBus()

    def jobs():
        bus.waitUntilEmpty()
        it = store.jobsList(None).iterator()
        out = {}
        while it.hasNext():
            j = it.next()
            out[j.jobId()] = j.stageIds().size()
        return out

    for t in range(3):
        land(_rss(range(2 * t, 2 * t + 10)))
        before = jobs()
        tick()
    new = {k: v for k, v in jobs().items() if k not in before}
    assert len(new) <= 4 and sum(new.values()) <= 5


def test_exactly_once_sink_handles_empty_dir_and_uri_path(spark, tmp_path):
    """A pre-created empty sink dir counts as first-batch (not a crash),
    and a file:-URI sink path still performs dedup (the existence probe is
    not a driver-local os.path check)."""
    import os
    from news_rss_spark.streaming.stream import exactly_once_news_sink
    sink_dir = tmp_path / "sink"
    sink_dir.mkdir()  # empty dir pre-created by deployment tooling
    sink_uri = "file:" + str(sink_dir)
    news = spark.createDataFrame(
        [("a", "u", NOW, "s", None, "t1")],
        "id string, message_url string, datetime timestamp_ntz, "
        "source string, photo_path string, text string")
    fn = exactly_once_news_sink(sink_uri, now_utc=NOW)
    fn(news, 0)  # first batch over empty dir + URI path: must not raise
    assert spark.read.parquet(sink_uri).count() == 1
    # second batch with a repeated id: URI-addressed dedup must engage
    news2 = spark.createDataFrame(
        [("a", "u", NOW, "s", None, "t1"), ("b", "u", NOW, "s", None, "t2")],
        news.schema)
    fn(news2, 1)
    got = spark.read.parquet(sink_uri)
    assert got.count() == 2  # 'a' deduped, 'b' appended
    assert {r["id"] for r in got.collect()} == {"a", "b"}


def test_windowed_counts_watermark_drops_late_events(spark, tmp_path):
    """Watermarked tumbling-window agg (brief: "watermarks + windowed aggs
    for late data"): tick 1 lands 10:xx/11:xx events plus a 13:05 event
    whose watermark (13:05 - 2h = 11:05) closes the 10:00 window, so
    append mode emits 10:00 exactly once; tick 2 lands an 09:30 straggler
    (far behind the watermark) — the finalized 10:00 window must NOT be
    re-emitted or resurrected."""
    from datetime import datetime as dt

    from corpus_lab.streaming.sinks import streaming_windowed_counts

    inp, sink, ckpt = (str(tmp_path / d) for d in ("in", "sink", "ckpt"))
    ddl = "event_id long, ts timestamp, event_type string, value double"

    def tick(rows):
        spark.createDataFrame(rows, ddl).coalesce(1) \
            .write.mode("append").parquet(inp)
        src = spark.readStream.schema(ddl).parquet(inp)
        q = (streaming_windowed_counts(src, "1 hour", "2 hours")
             .writeStream.format("parquet").outputMode("append")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(str(r["window_start"]), r["event_type"], r["n_events"])
                for r in spark.read.parquet(sink).collect()}

    got1 = tick([
        (1, dt(2024, 1, 1, 10, 10), "view", 1.0),
        (2, dt(2024, 1, 1, 10, 40), "view", 2.0),
        (3, dt(2024, 1, 1, 11, 20), "view", 3.0),
        (4, dt(2024, 1, 1, 13, 5), "view", 4.0),   # advances watermark to 11:05
    ])
    assert got1 == {("2024-01-01 10:00:00", "view", 2)}  # 10:00 finalized once

    got2 = tick([(5, dt(2024, 1, 1, 9, 30), "view", 99.0)])  # hopeless straggler
    assert got2 == got1  # dropped: closed window not re-emitted or changed


def test_incremental_hll_two_ticks_equals_batch_and_replays_idempotently(
        spark, tmp_path):
    """Streaming HLL: fold two availableNow ticks into a batch_id-
    partitioned register table; the estimate equals the batch sketch
    over the union EXACTLY.  On replay each batch overwrites only its
    own partition, and registers max-merge at read time — so after a
    full checkpoint wipe the raw table may re-batch differently but the
    ESTIMATE is exactly unchanged (no lost history, no double count)."""
    import shutil

    from corpus_lab.operators.sketch import hll_distinct
    from corpus_lab.streaming.sinks import (
        run_streaming_hll,
        streaming_hll_estimate,
    )

    inp, regs, ckpt = (str(tmp_path / p) for p in ("in", "regs", "ckpt"))
    ddl = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, "text %d" % (i % 700), "en", "s%d" % (i % 3), 10)
             for i in range(lo, hi)], ddl)

    batch(0, 500).coalesce(1).write.mode("append").parquet(inp)
    run_streaming_hll(spark, inp, regs, ckpt)
    batch(500, 1200).coalesce(1).write.mode("append").parquet(inp)
    run_streaming_hll(spark, inp, regs, ckpt)

    streamed = {r["source"]: r["n_est"] for r in
                streaming_hll_estimate(spark, regs, "source").collect()}
    batched = {r["source"]: r["n_est"] for r in
               hll_distinct(batch(0, 1200), "source", "text").collect()}
    assert streamed == batched

    # a tick with no new data is a no-op (checkpoint intact)
    regs_before = sorted(map(tuple, spark.read.parquet(regs).collect()))
    run_streaming_hll(spark, inp, regs, ckpt)
    assert sorted(map(tuple, spark.read.parquet(regs).collect())) == \
        regs_before

    # crash replay: checkpoint lost, the whole input re-delivered (the
    # replayed data may land under different batch boundaries, so the raw
    # table need not be byte-identical) — but each batch only overwrites
    # its OWN partition and registers max-merge, so the ESTIMATE is
    # exactly unchanged: no history lost, no double counting
    shutil.rmtree(ckpt)
    run_streaming_hll(spark, inp, regs, ckpt)
    after = {r["source"]: r["n_est"] for r in
             streaming_hll_estimate(spark, regs, "source").collect()}
    assert after == batched


def test_exactly_once_sink_does_not_mutate_session_confs(spark, tmp_path):
    """Overwrite mode / codec ride the DataFrameWriter, never the session
    (ADVICE r2: a per-batch session mutation leaks into concurrent jobs)."""
    from news_rss_spark.streaming.stream import exactly_once_news_sink

    before = (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", None),
        spark.conf.get("spark.sql.parquet.compression.codec", None),
    )
    sink = str(tmp_path / "sink")
    fn = exactly_once_news_sink(sink)
    batch = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00")],
        "id int, text string, datetime string",
    ).withColumn("datetime", F.col("datetime").cast("timestamp"))
    fn(batch, 0)
    fn(batch, 1)  # second batch exercises the anti-join + overwrite path
    after = (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", None),
        spark.conf.get("spark.sql.parquet.compression.codec", None),
    )
    assert after == before
    # dynamic overwrite still honored per-write: batch 0's partition intact
    got = spark.read.parquet(sink)
    assert sorted(r["batch_id"] for r in got.select("batch_id").collect()) == [0]


def test_incremental_cms_two_ticks_equals_batch_and_batch_replay_idempotent(
        spark, tmp_path):
    """Streaming CMS: two availableNow-style ticks folded into a
    batch_id-partitioned counter table; summed estimates equal the batch
    sketch over the union EXACTLY.  Re-running a batch under the SAME
    batch_id (the intact-checkpoint crash window) overwrites only its
    own partition — table content unchanged (the documented recovery
    contract; unlike HLL's max, a checkpoint WIPE is out of contract
    for sum-merge)."""
    from corpus_lab.operators.sketch import cms_counters, cms_estimate
    from corpus_lab.streaming.sinks import (
        incremental_cms_sink,
        streaming_cms_estimate,
    )

    counters_path = str(tmp_path / "cms")
    ddl = "doc_id bigint, tok string"

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, "t%d" % (i % 50)) for i in range(lo, hi)], ddl)

    sink = incremental_cms_sink(counters_path, "tok")
    sink(batch(0, 400), 0)
    sink(batch(400, 1000), 1)

    cands = spark.createDataFrame([("t0",), ("t7",), ("t49",), ("zzz",)],
                                  "tok string")
    streamed = {r["value"]: r["est"] for r in
                streaming_cms_estimate(spark, counters_path, cands,
                                       "tok").collect()}
    batched = {r["value"]: r["est"] for r in
               cms_estimate(cms_counters(batch(0, 1000), "tok"), cands,
                            "tok").collect()}
    assert streamed == batched
    assert streamed["t0"] >= 20  # 1000/50 true count, never undercounts

    # intact-checkpoint replay: same batch_id + same data -> idempotent
    before = sorted(map(tuple, spark.read.parquet(counters_path).collect()))
    sink(batch(400, 1000), 1)
    after = sorted(map(tuple, spark.read.parquet(counters_path).collect()))
    assert after == before


def test_incremental_quantile_two_ticks_equals_batch_and_replays(
        spark, tmp_path):
    """Streaming bottom-k quantile sketch: two availableNow ticks land
    batch_id-partitioned sketch rows; the folded estimate equals the
    BATCH sketch over the union exactly (min-k merge is batch-split
    blind), and survives a full checkpoint wipe unchanged."""
    import shutil

    from corpus_lab.operators.sketch import (
        quantile_sample_sketch,
        sketch_quantile_estimates,
    )
    from corpus_lab.streaming.sinks import (
        run_streaming_quantile,
        streaming_quantile_estimate,
    )

    inp, sk, ckpt = (str(tmp_path / p) for p in ("in", "sk", "ckpt"))
    ddl = ("doc_id bigint, text string, lang string, source string, "
           "n_chars bigint")

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, "t", "en", "s", (i * 7919) % 10007)
             for i in range(lo, hi)], ddl)

    batch(0, 800).coalesce(1).write.mode("append").parquet(inp)
    run_streaming_quantile(spark, inp, sk, ckpt, k=256)
    batch(800, 2000).coalesce(1).write.mode("append").parquet(inp)
    run_streaming_quantile(spark, inp, sk, ckpt, k=256)

    streamed = {r["q"]: r["est"] for r in
                streaming_quantile_estimate(spark, sk, k=256).collect()}
    whole = spark.read.parquet(inp)
    want = {r["q"]: r["est"] for r in sketch_quantile_estimates(
        quantile_sample_sketch(whole, "n_chars", k=256)).collect()}
    assert streamed == want

    # wipe the checkpoint: ticks re-batch from scratch, estimates exact
    shutil.rmtree(ckpt)
    run_streaming_quantile(spark, inp, sk, ckpt, k=256)
    again = {r["q"]: r["est"] for r in
             streaming_quantile_estimate(spark, sk, k=256).collect()}
    assert again == want
