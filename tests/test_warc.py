"""WARC crawl-archive parsing (kernel/warcx.py) and the Spark source stage
(sources/warc.py): byte round-trips, gzip members, truncation contract,
record filtering, and WARC -> kernel -> extracted article end-to-end."""

from datetime import datetime, timezone

import pyspark.sql.functions as F

from corpus_lab.kernel.warcx import build_warc, gunzip_members, parse_warc
from corpus_lab.sources.warc import documents_from_warc, warc_records

RECS = [
    {"url": "https://a.example.org/1", "status": 200,
     "http_headers": {"Content-Type": "text/html; charset=utf-8"},
     "body": b"<html><body><p>hello crawl this paragraph is long enough "
             b"to clear the boilerplate density threshold</p></body></html>"},
    {"url": "https://a.example.org/2", "status": 404,
     "http_headers": {"Content-Type": "text/html"},
     "body": b"<html>not found</html>"},
    {"url": "https://a.example.org/3", "status": 200,
     "http_headers": {"Content-Type": "image/png"},
     "body": b"\x89PNG\r\n\x1a\nbinary-bytes-with\r\n\r\nterminators"},
]


class TestWarcKernel:
    def test_round_trip_plain_and_gzip(self, spark):
        for gz in (False, True):
            data = build_warc(RECS, gzip_members=gz)
            got = parse_warc(data)
            assert [r["url"] for r in got] == [r["url"] for r in RECS]
            assert [r["status"] for r in got] == [200, 404, 200]
            assert got[0]["body"] == RECS[0]["body"]
            assert got[2]["body"] == RECS[2]["body"]  # binary body w/ CRLFCRLF
            assert got[0]["http_headers"]["content-type"] == \
                "text/html; charset=utf-8"

    def test_truncated_tail_keeps_parsed_prefix(self, spark):
        data = build_warc(RECS)
        cut = data[: data.rindex(b"WARC/1.0") + 40]  # mid-3rd-record
        got = parse_warc(cut)
        assert [r["url"] for r in got] == [RECS[0]["url"], RECS[1]["url"]]

    def test_truncated_gzip_member_keeps_prefix(self, spark):
        data = build_warc(RECS, gzip_members=True)
        assert len(parse_warc(data[:-20])) >= 1

    def test_non_warc_and_empty_input(self, spark):
        assert parse_warc(b"") == []
        assert parse_warc(b"random bytes") == []
        assert gunzip_members(b"plain") == b"plain"


class TestWarcSparkStage:
    def _files(self, spark, gz=False):
        data = build_warc(RECS, gzip_members=gz)
        return spark.createDataFrame([("f0", bytearray(data))],
                                     "file_id string, content binary")

    def test_records_stage_parses_all(self, spark):
        rows = warc_records(self._files(spark)).collect()
        assert [(r["rec_index"], r["http_status"]) for r in rows] == \
            [(0, 200), (1, 404), (2, 200)]
        assert rows[0]["content_type"] == "text/html; charset=utf-8"

    def test_documents_keep_only_200_html(self, spark):
        docs = documents_from_warc(self._files(spark, gz=True)).collect()
        assert [d["doc_id"] for d in docs] == ["https://a.example.org/1"]
        meta, page = docs[0]["spans"]
        assert meta["kind"] == "meta" and "a.example.org/1" in meta["text"]
        assert page["kind"] == "page"
        assert "hello crawl" in page["text"]

    def test_warc_to_extracted_article_end_to_end(self, spark):
        from news_rss_spark.operators.extraction import extract_articles
        docs = documents_from_warc(self._files(spark))
        out = extract_articles(
            docs, now_utc=datetime(2025, 1, 5, tzinfo=timezone.utc)).collect()
        assert len(out) == 1 and out[0]["status"] == "ok"
        assert "hello crawl" in out[0]["text"]


class TestWarcRobustness:
    """parse_warc must never raise: a 100 TB crawl contains every possible
    corruption and each must cost records, not tasks."""

    def test_never_raises_on_arbitrary_bytes(self):
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.binary(max_size=400))
        def check(data):
            out = parse_warc(data)
            assert isinstance(out, list)

        check()

    def test_never_raises_on_mutated_valid_archives(self):
        """Bit-flips / truncations / splices of a REAL archive — the
        adversarial neighborhood of well-formed input."""
        from hypothesis import given, settings, strategies as st

        base = build_warc(RECS)
        gz = build_warc(RECS, gzip_members=True)

        @settings(max_examples=300, deadline=None)
        @given(st.sampled_from([base, gz]),
               st.integers(0, 1), st.data())
        def check(data, mode, draw):
            if mode == 0:  # truncate anywhere
                cut = draw.draw(st.integers(0, len(data)))
                mutated = data[:cut]
            else:  # flip one byte anywhere
                i = draw.draw(st.integers(0, len(data) - 1))
                b = draw.draw(st.integers(0, 255))
                mutated = data[:i] + bytes([b]) + data[i + 1:]
            out = parse_warc(mutated)
            assert isinstance(out, list)
            for rec in out:
                assert isinstance(rec["body"], bytes)

        check()


class TestWarcExtractionJob:
    def test_one_call_warc_to_sink_with_resume(self, spark, tmp_path):
        """WARC archives -> published sink in one call, then a re-run
        skips every bucket (same ledger-driven resume as the feed path)."""
        from corpus_lab.plans.pages import run_warc_extraction_job

        files = spark.createDataFrame(
            [("f0", bytearray(build_warc(RECS))),
             ("f1", bytearray(build_warc(RECS[:1], gzip_members=True)))],
            "file_id string, content binary")
        sink, lineage = str(tmp_path / "sink"), str(tmp_path / "lineage")
        res = run_warc_extraction_job(
            spark, files, sink, lineage,
            datetime(2025, 1, 5, tzinfo=timezone.utc), "warc-run")
        # f0 yields one 200/HTML doc; f1 repeats the same URL -> deduped
        assert res.published_count == 1
        from news_rss_spark.operators.extraction import with_text_from_spans
        got = (with_text_from_spans(spark.read.parquet(sink))
               .filter(F.col("status") == "ok").collect())
        assert len(got) == 1 and "hello crawl" in got[0]["text"]

        res2 = run_warc_extraction_job(
            spark, files, sink, lineage,
            datetime(2025, 1, 5, tzinfo=timezone.utc), "warc-run-2")
        assert res2.skipped_buckets > 0 and res2.published_count == 1


class TestProducerCasingAndEol:
    """Real crawls vary header casing; gates must be case-insensitive
    (round-2 found this class in the HTML tokenizer — CLASS=), and
    non-CRLF framing must degrade to the skip contract, never a crash."""

    def test_uppercase_header_names_and_mime_params(self):
        body = b"hello uppercase"
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: TEXT/HTML\r\n\r\n" + body)
        rec = (b"WARC/1.0\r\n"
               b"WARC-TYPE: Response\r\n"
               b"WARC-TARGET-URI: https://ex.org/a\r\n"
               b"CONTENT-TYPE: application/http; MsgType=Response\r\n"
               b"CONTENT-LENGTH: " + str(len(http)).encode() + b"\r\n\r\n"
               + http + b"\r\n\r\n")
        got = parse_warc(rec)
        assert len(got) == 1
        # raw value preserved, gate matched case-insensitively
        assert got[0]["warc_type"] == "Response"
        assert got[0]["status"] == 200
        assert got[0]["body"] == body
        assert got[0]["http_headers"]["content-type"] == "TEXT/HTML"

    def test_mixed_eol_headers_never_crash_and_keep_prefix(self):
        from hypothesis import given, settings, strategies as st

        good = build_warc(RECS)

        @settings(max_examples=150, deadline=None)
        @given(st.sampled_from([b"\n", b"\r", b"\r\n"]), st.data())
        def check(eol, data):
            # rewrite a suffix of the archive's CRLFs with a foreign EOL
            start = data.draw(st.integers(0, len(good)))
            mutated = good[:start] + good[start:].replace(b"\r\n", eol)
            recs = parse_warc(mutated)
            assert isinstance(recs, list)
            for r in recs:
                assert isinstance(r["body"], (bytes, bytearray))

        check()
