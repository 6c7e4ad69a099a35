"""Stream-stream enrichment join (streaming/stream.py::
streaming_enrichment_join): in-window matches, out-of-window exclusion,
batch parity, and watermark eviction of late arrivals."""

from datetime import datetime as dt

from pyspark.sql import functions as F

from corpus_lab.streaming.sinks import streaming_enrichment_join

DOCS_DDL = "doc_id long, doc_ts timestamp, title string"
MEDIA_DDL = "doc_id long, media_ts timestamp, photo string"


def _run(spark, tmp_path, doc_ticks, media_ticks):
    """Feed tick i of both sides, run availableNow, return the joined
    set after each tick."""
    din, min_, sink, ckpt = (str(tmp_path / d)
                             for d in ("docs", "media", "sink", "ckpt"))
    outs = []
    for docs, media in zip(doc_ticks, media_ticks):
        spark.createDataFrame(docs, DOCS_DDL).coalesce(1) \
            .write.mode("append").parquet(din)
        spark.createDataFrame(media, MEDIA_DDL).coalesce(1) \
            .write.mode("append").parquet(min_)
        ld = spark.readStream.schema(DOCS_DDL).parquet(din)
        rm = spark.readStream.schema(MEDIA_DDL).parquet(min_)
        q = (streaming_enrichment_join(ld, rm)
             .writeStream.format("parquet").outputMode("append")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        outs.append({(r["doc_id"], r["title"], r["photo"])
                     for r in spark.read.parquet(sink).collect()})
    return outs


def test_joins_within_lag_and_drops_beyond(spark, tmp_path):
    docs = [(1, dt(2024, 1, 1, 10, 0), "a"),
            (2, dt(2024, 1, 1, 10, 0), "b"),
            (3, dt(2024, 1, 1, 10, 0), "c")]
    media = [(1, dt(2024, 1, 1, 10, 30), "p1"),   # within 1h lag
             (2, dt(2024, 1, 1, 12, 30), "p2"),   # beyond lag: dropped
             (4, dt(2024, 1, 1, 10, 5), "p4")]    # no matching doc
    (got,) = _run(spark, tmp_path, [docs], [media])
    assert got == {(1, "a", "p1")}


def test_matches_batch_interval_join(spark, tmp_path):
    docs = [(i, dt(2024, 1, 1, 9 + i % 3, 15), f"t{i}") for i in range(12)]
    media = [(i, dt(2024, 1, 1, 9 + (i % 3) + (i % 2), 20), f"p{i}")
             for i in range(12)]
    (got,) = _run(spark, tmp_path, [docs], [media])
    d = spark.createDataFrame(docs, DOCS_DDL).alias("l")
    m = spark.createDataFrame(media, MEDIA_DDL).alias("r")
    ref = {(r["doc_id"], r["title"], r["photo"])
           for r in d.join(m, F.expr(
               "l.doc_id = r.doc_id AND r.media_ts >= l.doc_ts AND "
               "r.media_ts <= l.doc_ts + interval 1 hour")).collect()}
    assert got == ref and got  # streaming == batch, nonempty


def test_late_media_finds_doc_state_evicted(spark, tmp_path):
    # tick 1: doc at 10:00, plus 14:00 rows on BOTH sides dragging the
    # GLOBAL watermark (min across streams — an idle side would pin it
    # at zero) to 12:00, past 10:00 + lag(1h): doc 1's join state is
    # evictable.  tick 2: media for doc 1 at 10:30 EVENT time (inside
    # the join window!) processes after eviction -> no output.
    docs1 = [(1, dt(2024, 1, 1, 10, 0), "early"),
             (2, dt(2024, 1, 1, 14, 0), "mark")]
    media1 = [(99, dt(2024, 1, 1, 14, 0), "advance")]  # no doc 99
    media2 = [(1, dt(2024, 1, 1, 10, 30), "late-p1")]
    out1, out2 = _run(spark, tmp_path,
                      [docs1, []], [media1, media2])
    assert out1 == set()
    assert out2 == set()  # state evicted: late media joins nothing


def test_prompt_media_for_same_shape_does_join(spark, tmp_path):
    # control for the eviction test: identical timing but media arrives
    # in the SAME tick -> the pair is emitted
    docs1 = [(1, dt(2024, 1, 1, 10, 0), "early"),
             (2, dt(2024, 1, 1, 14, 0), "mark")]
    media1 = [(1, dt(2024, 1, 1, 10, 30), "p1")]
    (got,) = _run(spark, tmp_path, [docs1], [media1])
    assert got == {(1, "early", "p1")}
