"""Spark pipeline tests: extraction stage parity with the kernel,
dedup semantics, lineage, and checkpoint-resume idempotency
(SURVEY.md §5 test strategy items 1, 2, 4)."""

import shutil
from datetime import datetime

import pyspark.sql.functions as F
import pytest

from news_rss_spark.operators.dedup import anti_join_seen, dedup_within_run
from news_rss_spark.operators.extraction import extract_articles, to_publish_news, with_text_from_spans
from news_rss_spark.operators.lineage import LINEAGE_DDL, with_bucket
from news_rss_spark.plans.pipeline import run_extraction_job
from news_rss_spark.sources.synth import SPANS_DDL, documents_df
from tests.fixture_docs import fixture_corpus
from tests.sink_files import files_holding, tree_bytes

NOW = datetime(2025, 1, 15, 12, 0, 0)


def _corpus_df(spark):
    rows = [
        (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
        for d in fixture_corpus()
    ]
    return spark.createDataFrame(rows, schema=SPANS_DDL)


class TestExtractionStage:
    def test_spark_matches_kernel_goldens(self, spark):
        """The distributed stage must equal the single-process kernel."""
        import json
        import os

        golden_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "fixtures", "golden_spans.json")
        with open(golden_path) as f:
            goldens = {g["doc_id"]: g for g in json.load(f)}

        out = extract_articles(_corpus_df(spark).repartition(4), now_utc=NOW)
        rows = {r["id"] or r["error"]: r for r in out.collect() if r["status"] == "ok"}
        n_ok = sum(1 for g in goldens.values() if g["status"] == "ok")
        assert len(rows) == n_ok
        for doc_id, g in goldens.items():
            if g["status"] != "ok":
                continue
            r = rows[doc_id]
            got = [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
            want = [(s["kind"], s["text"], s["media_ref"]) for s in g["spans"]]
            assert got == want, doc_id
            assert (r["pub_date"].isoformat() if r["pub_date"] else None) == g["pub_date"]
            assert r["source"] == g["source"]
            assert r["photo_path"] == g["photo_path"]

    def test_publish_news_projection(self, spark):
        ext = extract_articles(_corpus_df(spark), now_utc=NOW)
        news = to_publish_news(ext)
        assert news.columns == ["id", "message_url", "datetime", "source", "photo_path", "text"]
        assert news.filter(F.col("id").isNull()).count() == 0


class TestDedup:
    def test_within_run(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "id string, v int"
        )
        assert dedup_within_run(df).count() == 2

    def test_anti_join_ttl(self, spark):
        fresh = datetime(2025, 1, 10)
        stale = datetime(2024, 1, 1)  # older than 120-day TTL
        sink = spark.createDataFrame(
            [("a", fresh), ("b", stale)], "id string, datetime timestamp_ntz"
        )
        batch = spark.createDataFrame(
            [("a",), ("b",), ("c",)], "id string"
        )
        out = anti_join_seen(batch, sink, NOW)
        got = {r["id"] for r in out.collect()}
        # 'a' suppressed (live), 'b' re-published (TTL-expired), 'c' new
        assert got == {"b", "c"}


class TestLineageAndResume:
    @pytest.fixture()
    def paths(self, tmp_path):
        return str(tmp_path / "news"), str(tmp_path / "lineage")

    def test_idempotent_rerun(self, spark, paths):
        sink, lineage = paths
        docs = documents_df(spark, 120, seed=3, num_partitions=4)
        r1 = run_extraction_job(spark, docs, sink, lineage, NOW, "r1", n_buckets=8)
        r2 = run_extraction_job(spark, docs, sink, lineage, NOW, "r2", n_buckets=8)
        assert r2.skipped_buckets == 8
        assert r2.published_count == r1.published_count

    def test_resume_after_partial_lineage(self, spark, paths, tmp_path):
        sink, lineage = paths
        docs = documents_df(spark, 120, seed=3, num_partitions=4)
        r1 = run_extraction_job(spark, docs, sink, lineage, NOW, "r1", n_buckets=8)
        full = with_text_from_spans(spark.read.parquet(sink))
        full_rows = {(r["id"], r["text"]) for r in full.collect()}

        # simulate crash: lineage only recorded for buckets < 4
        partial = (spark.read.parquet(lineage)
                   .filter(F.col("bucket") < 4).localCheckpoint(eager=True))
        shutil.rmtree(lineage)
        partial.write.parquet(lineage)

        r3 = run_extraction_job(spark, docs, sink, lineage, NOW, "r3", n_buckets=8)
        assert r3.skipped_buckets == 4
        after = with_text_from_spans(spark.read.parquet(sink))
        after_rows = {(r["id"], r["text"]) for r in after.collect()}
        assert after_rows == full_rows  # byte-identical content
        assert r3.published_count == r1.published_count

    def test_orphan_staging_reclaimed_on_resume(self, spark, paths):
        """A SIGKILLed run strands its .spark-staging-*/_temporary dirs
        inside the sink (a full extra copy of the output at scale); the
        next run must reclaim them and leave real data untouched."""
        import os
        sink, lineage = paths
        docs = documents_df(spark, 120, seed=3, num_partitions=4)
        r1 = run_extraction_job(spark, docs, sink, lineage, NOW, "r1", n_buckets=8)
        assert r1.gc_staging_dirs == 0
        before = {(r["id"], r["text"]) for r in
                  with_text_from_spans(spark.read.parquet(sink)).collect()}

        for orphan in (".spark-staging-dead-run-uuid", "_temporary"):
            d = os.path.join(sink, orphan, "bucket=3")
            os.makedirs(d)
            with open(os.path.join(d, "part-00000.parquet"), "wb") as f:
                f.write(b"stranded bytes")

        r2 = run_extraction_job(spark, docs, sink, lineage, NOW, "r2", n_buckets=8)
        assert r2.gc_staging_dirs == 2
        assert not os.path.exists(os.path.join(sink, "_temporary"))
        assert not os.path.exists(os.path.join(sink, ".spark-staging-dead-run-uuid"))
        after = {(r["id"], r["text"]) for r in
                 with_text_from_spans(spark.read.parquet(sink)).collect()}
        assert after == before
        assert r2.skipped_buckets == 8  # GC never touches the ledger

    def test_orphan_staging_gc_raises_on_unresolvable_sink(self, spark):
        """A sink whose filesystem cannot be resolved fails the reclaim
        loudly, before any write; it is not reported as 0 dirs removed."""
        from py4j.protocol import Py4JJavaError

        from news_rss_spark.plans.pipeline import _gc_orphan_staging
        with pytest.raises(Py4JJavaError, match="nosuchfs"):
            _gc_orphan_staging(spark, "nosuchfs://x/sink")

    def test_resume_survives_static_overwrite_conf(self, spark, paths):
        """Regression: resume must not truncate completed buckets even when
        the caller's session carries the default STATIC partition-overwrite
        mode (the job enforces dynamic mode itself)."""
        sink, lineage = paths
        docs = documents_df(spark, 120, seed=3, num_partitions=4)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        try:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
            r1 = run_extraction_job(spark, docs, sink, lineage, NOW, "r1", n_buckets=8)
            # simulate crash: forget half the lineage, forcing a partial re-run
            partial = (spark.read.parquet(lineage)
                       .filter(F.col("bucket") < 4).localCheckpoint(eager=True))
            shutil.rmtree(lineage)
            partial.write.parquet(lineage)
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
            r2 = run_extraction_job(spark, docs, sink, lineage, NOW, "r2", n_buckets=8)
            assert r2.published_count == r1.published_count
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def test_truncated_ledger_raises_and_leaves_sink(self, spark, paths):
        """An unreadable ledger is not "nothing completed": the resume
        raises before writing, and the sink stays byte-identical."""
        import glob
        import os
        sink, lineage = paths
        docs = documents_df(spark, 120, seed=3, num_partitions=4)
        run_extraction_job(spark, docs, sink, lineage, NOW, "r1", n_buckets=8)

        before = tree_bytes(sink)
        ledger_file = glob.glob(f"{lineage}/*.parquet")[0]
        with open(ledger_file, "r+b") as f:
            f.truncate(os.path.getsize(ledger_file) // 2)
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            run_extraction_job(spark, docs, sink, lineage, NOW, "r2",
                               n_buckets=8, resume=True)
        assert tree_bytes(sink) == before

    def test_unreachable_ledger_raises_before_write(self, spark, paths):
        """A ledger on a filesystem that cannot be opened raises before the
        sink is touched, instead of reading as "no ledger"."""
        import os
        sink, lineage = paths
        with pytest.raises(Exception, match="nosuchfs"):
            run_extraction_job(spark, documents_df(spark, 60, seed=3), sink,
                               f"nosuchfs://{lineage}", NOW, "r1", n_buckets=4)
        assert not os.path.exists(sink)

    def test_resume_reads_uri_addressed_ledger(self, spark, paths):
        """The ledger is found through Spark's filesystem layer, so a
        URI-addressed ledger (file://, hdfs://, s3a://) resumes too."""
        sink, lineage = paths
        docs = documents_df(spark, 60, seed=3)
        run_extraction_job(spark, docs, sink, f"file://{lineage}", NOW, "r1",
                           n_buckets=4)
        r2 = run_extraction_job(spark, docs, sink, f"file://{lineage}", NOW,
                                "r2", n_buckets=4)
        assert r2.skipped_buckets == 4 and r2.lineage_buckets == 0

    def test_jobs_leave_session_confs_alone(self, spark, paths, tmp_path):
        """Dynamic overwrite and lz4 are per-write options: neither batch
        job changes the caller's session confs."""
        from corpus_lab.plans.pages import run_page_bundle_job
        sink, lineage = paths
        keys = {"spark.sql.sources.partitionOverwriteMode": "static",
                "spark.sql.parquet.compression.codec": "zstd"}
        prev = {k: spark.conf.get(k) for k in keys}
        try:
            for k, v in keys.items():
                spark.conf.set(k, v)
            run_extraction_job(spark, documents_df(spark, 60, seed=3),
                               sink, lineage, NOW, "r1", n_buckets=4)
            assert {k: spark.conf.get(k) for k in keys} == keys
            pages = spark.createDataFrame(
                [(f"p{i}", f"<p>page {i}</p>", "https://s.example/")
                 for i in range(20)],
                "doc_id string, html string, base_url string")
            run_page_bundle_job(spark, pages, str(tmp_path / "bs"),
                                str(tmp_path / "bl"), "b1", n_buckets=4)
            assert {k: spark.conf.get(k) for k in keys} == keys
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)

    def test_resume_spark_job_budget(self, spark, tmp_path):
        """A half-completed resume runs a fixed number of Spark jobs; a
        change that adds a pass over the data shows up here.  Measured on
        Spark 4.1.2: 10 jobs -- the ledger collect; the broadcast of the
        sink's live ids; 4 for the bucket exchange, the in-run dedup
        exchange and the write; 3 for the lineage aggregate with its
        distinct-id count; the ledger append.  The same 10 at 64 buckets:
        the sink is one flat dir, so no read of it starts a listing job
        (64 partition dirs would start one, above Spark's parallel
        partition discovery threshold of 32)."""
        docs = documents_df(spark, 120, seed=3, num_partitions=4)
        sc = spark.sparkContext
        for n in (8, 64):
            sink, lineage = str(tmp_path / f"s{n}"), str(tmp_path / f"l{n}")
            crash = run_extraction_job(spark, docs, sink, lineage, NOW,
                                       "crash", n_buckets=n, resume=False,
                                       only_buckets=list(range(0, n, 2)))
            group = f"resume-budget-{n}"
            sc.setJobGroup(group, "half-completed resume")
            try:
                res = run_extraction_job(spark, docs, sink, lineage, NOW, "r",
                                         n_buckets=n)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if n == 8:
                assert res.skipped_buckets == 4 and res.lineage_buckets == 4
            buckets = (spark.read.parquet(sink).select("bucket")
                       .distinct().count())
            assert res.skipped_buckets == crash.lineage_buckets
            assert res.lineage_buckets == buckets - crash.lineage_buckets
            assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 10

    @pytest.mark.parametrize("cut,error", [
        ("half", "FAILED_READ_FILE"),
        ("zero", "a sink file was emptied, cut or removed"),
        ("removed", "a sink file was emptied, cut or removed"),
    ], ids=["half", "zero", "removed"])
    def test_damaged_sink_file_raises_on_resume(self, spark, paths, cut,
                                                error):
        """A recorded bucket whose sink file was cut to half its length,
        emptied or removed makes the resume raise, and the ledger gains no
        row.  Spark skips a zero-length file without a word, so the bucket
        would otherwise stay short for good.  A cut or emptied file raises
        on the sink-id read, before the sink is touched; a removed one is
        caught by the ledger's row count after the append.  The victims are
        the files holding bucket 0's rows."""
        import os
        sink, lineage = paths
        docs = documents_df(spark, 200, seed=3)
        run_extraction_job(spark, docs, sink, lineage, NOW, "crash",
                           n_buckets=8, only_buckets=[0, 1, 2, 3])
        victims = files_holding(spark, sink, F.col("bucket") == 0)
        assert victims
        for victim in victims:
            if cut == "removed":
                os.remove(victim)
                continue
            with open(victim, "r+b") as f:
                f.truncate(os.path.getsize(victim) // 2 if cut == "half" else 0)

        before = tree_bytes(sink)
        ledger_rows = spark.read.parquet(lineage).count()
        with pytest.raises(Exception, match=error):
            run_extraction_job(spark, docs, sink, lineage, NOW, "r",
                               n_buckets=8)
        assert spark.read.parquet(lineage).count() == ledger_rows
        if cut != "removed":
            assert tree_bytes(sink) == before

    def test_partition_dir_in_sink_raises(self, spark, paths):
        """The sink is flat parquet.  Spark reads only the partition
        directories of a dir that also holds files, so a sink holding a
        ``bucket=0/`` dir (an old-layout sink, or a foreign
        ``partitionBy`` append) would drop its own rows from every read:
        the run raises before the kernel and leaves the sink's bytes."""
        sink, lineage = paths
        run_extraction_job(spark, documents_df(spark, 60, seed=3), sink,
                           lineage, NOW, "r1", n_buckets=4)
        (spark.read.parquet(sink).filter(F.col("bucket") == 0).drop("bucket")
         .write.parquet(f"{sink}/bucket=0"))
        before = tree_bytes(sink)
        with pytest.raises(RuntimeError, match="bucket=0"):
            run_extraction_job(spark, documents_df(spark, 80, seed=4), sink,
                               lineage, NOW, "r2", n_buckets=4)
        assert tree_bytes(sink) == before

    def test_lineage_counts(self, spark, paths):
        sink, lineage = paths
        docs = documents_df(spark, 120, seed=3, num_partitions=4)
        run_extraction_job(spark, docs, sink, lineage, NOW, "r1", n_buckets=8)
        lin = spark.read.parquet(lineage)
        agg = lin.agg(F.sum("doc_count").alias("d"),
                      F.sum("ok_count").alias("o"),
                      F.sum("failure_count").alias("f")).collect()[0]
        assert agg["d"] == 120
        assert agg["o"] + agg["f"] == 120
        assert agg["f"] >= 0
        assert lin.dtypes == spark.createDataFrame([], LINEAGE_DDL).dtypes


class TestSaltedAgg:
    def test_matches_plain_groupby(self, spark):
        from corpus_lab.operators.skew import salted_agg

        df = documents_df(spark, 200, seed=5)
        ext = extract_articles(df, now_utc=NOW).filter(F.col("status") == "ok")
        plain = {r["source"]: (r["cnt"], r["bytes"]) for r in
                 ext.groupBy("source").agg(F.count("*").alias("cnt"),
                                           F.sum("byte_count").alias("bytes")).collect()}
        salted = {r["source"]: (r["cnt"], r["bytes"]) for r in
                  salted_agg(ext, "source",
                             {"cnt": ("count", "*"), "bytes": ("sum", "byte_count")},
                             n_salts=4).collect()}
        assert plain == salted


class TestWaveScopedRuns:
    def test_waves_compose_to_full_run(self, spark, tmp_path):
        """Chunking the bucket space across separate invocations yields the
        same sink as one full run, and a later full invocation skips every
        wave-completed bucket."""
        docs = documents_df(spark, 120, seed=3, num_partitions=4)
        s1, l1 = str(tmp_path / "s1"), str(tmp_path / "l1")
        full = run_extraction_job(spark, docs, s1, l1, NOW, "full", n_buckets=8)

        s2, l2 = str(tmp_path / "s2"), str(tmp_path / "l2")
        r_a = run_extraction_job(spark, docs, s2, l2, NOW, "w1", n_buckets=8,
                                 only_buckets=[0, 1, 2, 3])
        r_b = run_extraction_job(spark, docs, s2, l2, NOW, "w2", n_buckets=8)
        assert r_b.skipped_buckets == 4  # wave-1 buckets skipped
        assert r_b.published_count == full.published_count
        a = {(r["id"], r["status"]) for r in spark.read.parquet(s1).collect()}
        b = {(r["id"], r["status"]) for r in spark.read.parquet(s2).collect()}
        assert a == b
        assert r_a.lineage_buckets == 4


class TestNullGuidDedup:
    def test_null_doc_ids_not_collapsed_by_partition_dedup(self, spark):
        """Distinct missing-guid failures each keep their own skip row:
        None never enters the in-kernel seen set."""
        from news_rss_spark.operators.extraction import extract_articles
        rows = [
            (None, [{"kind": "desc", "text": "a", "media_ref": None, "offset": 0}]),
            (None, [{"kind": "desc", "text": "b", "media_ref": None, "offset": 0}]),
            ("d1", [{"kind": "desc", "text": "c", "media_ref": None, "offset": 0}]),
            ("d1", [{"kind": "desc", "text": "c", "media_ref": None, "offset": 0}]),
        ]
        docs = spark.createDataFrame(
            rows,
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        ).coalesce(1)
        out = extract_articles(docs, now_utc=NOW,
                               dedup_within_partition=True).collect()
        null_skips = [r for r in out if r["error"] == "empty guid"]
        assert len(null_skips) == 2     # both null-guid failures preserved
        assert len(out) == 3            # but the real dup d1 deduped


class TestFeedIngestionJob:
    def test_raw_xml_to_sink_one_call(self, spark, tmp_path):
        import os
        ndtv = "/root/reference/tests/resources/ndtv-world-news.xml"
        if not os.path.exists(ndtv):
            import pytest
            pytest.skip("reference absent")
        from news_rss_spark.plans.pipeline import run_feed_ingestion_job
        feeds = spark.createDataFrame(
            [("ndtv", open(ndtv, encoding="utf-8").read())],
            "feed_id string, xml string")
        res = run_feed_ingestion_job(spark, feeds, str(tmp_path / "s"),
                                     str(tmp_path / "l"), NOW, "feedjob",
                                     n_buckets=4)
        assert res.published_count == 20
        # resume: second invocation skips everything
        res2 = run_feed_ingestion_job(spark, feeds, str(tmp_path / "s"),
                                      str(tmp_path / "l"), NOW, "feedjob2",
                                      n_buckets=4)
        assert res2.skipped_buckets == 4
        assert res2.published_count == 20

    def test_overlapping_snapshots_land_every_guid_once(self, spark, tmp_path):
        """A second, overlapping feed snapshot into the same sink lands each
        new guid and leaves the first run's rows as they were.  A guid-less
        item has no id the anti-join can match, so each run appends one
        more skip row for it, without raising.  The second run costs 8
        Spark jobs on Spark 4.1.2, one of them the broadcast of the sink's
        live ids.  ``resume=False`` then refuses the sink, which already
        holds rows."""
        from collections import Counter

        from news_rss_spark.plans.pipeline import run_feed_ingestion_job
        sink, lineage = str(tmp_path / "s"), str(tmp_path / "l")

        def run(items, run_id, **kw):
            body = "".join(
                f"<item><guid>https://news.example/{i}</guid>"
                f"<title>Story {i}</title>"
                f"<description>What happened in story {i}.</description>"
                "</item>" for i in items)
            xml = ('<?xml version="1.0" encoding="UTF-8"?><rss version="2.0">'
                   f"<channel><title>World</title>{body}<item><title>No"
                   " guid</title><description>Lost.</description></item>"
                   "</channel></rss>")
            feeds = spark.createDataFrame([("world", xml)],
                                          "feed_id string, xml string")
            return run_feed_ingestion_job(spark, feeds, sink, lineage, NOW,
                                          run_id, n_buckets=4, **kw)

        def rows():
            return Counter(tuple(r) for r in
                           spark.read.parquet(sink).drop("spans").collect())

        run(range(0, 12), "s0")
        first = rows()
        sc = spark.sparkContext
        sc.setJobGroup("second-snapshot", "overlapping snapshot")
        try:
            res = run(range(6, 20), "s1")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        after = rows()
        assert not first - after
        ok = sorted(r["id"] for r in spark.read.parquet(sink)
                    .filter(F.col("status") == "ok").select("id").collect())
        assert ok == sorted(f"https://news.example/{i}" for i in range(20))
        assert spark.read.parquet(sink).filter(F.col("id").isNull()).count() == 2
        assert res.published_count == 20
        assert len(sc.statusTracker().getJobIdsForGroup("second-snapshot")) <= 8
        with pytest.raises(ValueError, match="first run"):
            run(range(20, 22), "s2", resume=False)
        assert rows() == after


class TestStageSizing:
    def test_clustered_small_file_scan_runs_default_parallelism_tasks(
            self, spark, tmp_path):
        """A clustered input of 16 small parquet files, read one file per
        split (``maxPartitionBytes = openCostInBytes = 16m``, as the
        benchmark reads it), is coalesced to its bytes: its kernel write
        stage runs ``defaultParallelism`` tasks, each paying the Python
        worker set-up once, and lands the rows the uncoalesced 16-task
        plan lands."""
        from collections import Counter

        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        docs = with_bucket(documents_df(spark, 160, seed=5),
                           n_buckets=16).toArrow()
        inp = tmp_path / "in"
        inp.mkdir()
        for k in range(16):
            pq.write_table(docs.filter(pc.equal(docs["bucket"], k))
                           .drop_columns(["bucket"]),
                           str(inp / f"part-{k:05d}.parquet"))
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()

        def write_stage_tasks(df, name):
            """Tasks of the one stage in the job group that reads input and
            writes output: the kernel stage and the sink write."""
            sc.setJobGroup(name, "stage sizing")
            try:
                run_extraction_job(spark, df, str(tmp_path / name / "s"),
                                   str(tmp_path / name / "l"), NOW, name,
                                   n_buckets=16,
                                   input_clustered_by_bucket=True)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tasks = []
            for job in sc.statusTracker().getJobIdsForGroup(name):
                for sid in sc.statusTracker().getJobInfo(job).stageIds:
                    if sc.statusTracker().getStageInfo(sid) is None:
                        continue
                    st = store.lastStageAttempt(sid)
                    if st.inputBytes() and st.outputBytes():
                        tasks.append(st.numTasks())
            return tasks

        keys = {"spark.sql.files.maxPartitionBytes": "16m",
                "spark.sql.files.openCostInBytes": "16m"}
        prev = {k: spark.conf.get(k) for k in keys}
        try:
            for k, v in keys.items():
                spark.conf.set(k, v)
            scan = spark.read.parquet(str(inp))
            assert scan.rdd.getNumPartitions() == 16
            sized = write_stage_tasks(scan, "sized")
            # the same 16 splits without file statistics: left uncoalesced
            whole = write_stage_tasks(
                spark.createDataFrame(scan.rdd, scan.schema), "whole")
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)
        assert sized == [sc.defaultParallelism]
        assert whole == [16]

        def rows(name):
            return Counter(repr(r) for r in spark.read
                           .parquet(str(tmp_path / name / "s"))
                           .drop("run_id").collect())

        assert rows("sized") == rows("whole")


class TestClusteredLayoutGuard:
    def test_raises_when_clustering_promise_violated(self, spark, tmp_path):
        """input_clustered_by_bucket=True on input that is NOT clustered
        (duplicate ids in different partitions) must raise before the
        ledger append rather than silently trusting the layout, so no
        bucket holding duplicates is ever recorded as done."""
        import os
        docs = documents_df(spark, 60, seed=9, num_partitions=1)
        # duplicate every doc into a second partition -> equal ids never
        # share a partition
        dup = docs.union(docs).repartition(6)
        lineage = str(tmp_path / "l")
        with pytest.raises(RuntimeError, match="clustering"):
            run_extraction_job(spark, dup, str(tmp_path / "s"), lineage,
                               NOW, "guard", n_buckets=4,
                               input_clustered_by_bucket=True)
        assert not os.path.exists(lineage)

    def test_no_warning_on_honest_layout(self, spark, tmp_path):
        import warnings as w
        docs = documents_df(spark, 60, seed=9, num_partitions=4)
        clustered = with_bucket(docs, n_buckets=4).repartition(4, "bucket")
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            run_extraction_job(spark, clustered, str(tmp_path / "s"),
                               str(tmp_path / "l"), NOW, "ok",
                               n_buckets=4, input_clustered_by_bucket=True)
        assert not [c for c in caught if "clustering" in str(c.message)]
