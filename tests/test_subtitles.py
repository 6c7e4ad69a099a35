"""Subtitle/caption kernel + operator tests (kernel/subx.py)."""

import pytest

from corpus_lab.kernel.subx import parse_subtitles

SRT = """1
00:00:01,000 --> 00:00:03,500
Hello <i>world</i>

2
00:00:04,000 --> 00:00:06,000
Second cue
across two lines

garbage block
not a timestamp

3
00:01:00,000 --> 00:01:02,000
Third
"""

VTT = """WEBVTT

NOTE this block is a comment
and spans lines

intro-cue
00:01.000 --> 00:03.000 align:start
Hi &amp; welcome

01:00:00.500 --> 01:00:02.000
Hour-long cue
"""


class TestKernel:
    def test_srt(self):
        cues = parse_subtitles(SRT)
        assert cues == [
            (0, 1000, 3500, "Hello world"),
            (1, 4000, 6000, "Second cue across two lines"),
            (2, 60000, 62000, "Third"),
        ]

    def test_vtt(self):
        cues = parse_subtitles(VTT)
        assert cues == [
            (0, 1000, 3000, "Hi & welcome"),
            (1, 3600500, 3602000, "Hour-long cue"),
        ]

    def test_empty_and_none(self):
        assert parse_subtitles(None) == []
        assert parse_subtitles("") == []
        assert parse_subtitles("WEBVTT\n") == []

    def test_crlf(self):
        cues = parse_subtitles(
            "1\r\n00:00:01,000 --> 00:00:02,000\r\nx\r\n")
        assert cues == [(0, 1000, 2000, "x")]

    def test_ordinal_ignores_srt_numbering(self):
        cues = parse_subtitles(
            "7\n00:00:01,000 --> 00:00:02,000\na\n\n"
            "99\n00:00:03,000 --> 00:00:04,000\nb\n")
        assert [c[0] for c in cues] == [0, 1]


class TestSparkOperator:
    def test_explode(self, spark):
        from corpus_lab.operators.subtitles import parse_subtitles_df
        rows = [("v1", SRT), ("v2", VTT), ("v3", None)]
        df = spark.createDataFrame(rows, "doc_id string, content string")
        got = {}
        for r in parse_subtitles_df(df).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["cue_idx"], r["start_ms"], r["end_ms"], r["text"]))
        assert len(got["v1"]) == 3 and len(got["v2"]) == 2
        assert "v3" not in got
        assert got["v2"][0] == (0, 1000, 3000, "Hi & welcome")
