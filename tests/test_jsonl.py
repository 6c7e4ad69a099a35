"""JSONL ingest + k-anonymity audit tests."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.sources.jsonl import parse_jsonl_documents, quarantine_split


class TestJsonlIngest:
    @pytest.fixture(scope="class")
    def parsed(self, spark):
        lines = [
            ('{"doc_id": "a", "text": "hello", "lang": "en", '
             '"source": "s1", "ts": "2025-01-01"}',),
            ('{"doc_id": "b", "text": "unicode \\u00e9", "lang": "fr"}',),
            ('{"text": "no id"}',),
            ('{broken json',),
            ("",),
            ('[1, 2, 3]',),
            ('{"doc_id": "c", "extra_field": 42, "text": "kept"}',),
        ]
        df = spark.createDataFrame(lines, "line string")
        return parse_jsonl_documents(df).collect()

    def test_statuses(self, parsed):
        by_raw = {r["raw"]: r for r in parsed}
        assert by_raw[""]["status"] == "skip"
        assert by_raw["{broken json"]["status"] == "skip"
        assert by_raw["{broken json"]["error"] == "malformed_json"
        assert by_raw['{"text": "no id"}']["error"] == "missing_doc_id"
        oks = [r for r in parsed if r["status"] == "ok"]
        assert {r["doc_id"] for r in oks} == {"a", "b", "c"}

    def test_fields_and_unicode(self, parsed):
        row = next(r for r in parsed if r["doc_id"] == "b")
        assert row["text"] == "unicode é" and row["lang"] == "fr"
        assert row["source"] is None

    def test_extra_fields_tolerated(self, parsed):
        row = next(r for r in parsed if r["doc_id"] == "c")
        assert row["text"] == "kept"

    def test_quarantine_split(self, spark):
        df = spark.createDataFrame(
            [('{"doc_id": "a", "text": "t"}',), ("oops",)], "line string")
        ok, bad = quarantine_split(parse_jsonl_documents(df))
        assert ok.columns == ["doc_id", "text", "lang", "source", "ts"]
        assert ok.count() == 1
        assert bad.collect()[0]["raw"] == "oops"


class TestKAnonymity:
    @pytest.fixture(scope="class")
    def df(self, spark):
        rows = ([("en", "s1")] * 10 + [("en", "s2")] * 3
                + [("fr", "s1")] * 1 + [("de", "s3")] * 5)
        return spark.createDataFrame(
            [(i, l, s) for i, (l, s) in enumerate(rows)],
            "doc_id long, lang string, source string")

    def test_report(self, df):
        from corpus_lab.operators.audit import k_anonymity_report
        got = {(r["lang"], r["source"]): r["class_n"]
               for r in k_anonymity_report(df, ["lang", "source"],
                                           k=5).collect()}
        assert got == {("en", "s2"): 3, ("fr", "s1"): 1}

    def test_summary(self, df):
        from corpus_lab.operators.audit import k_anonymity_summary
        row = k_anonymity_summary(df, ["lang", "source"], k=5).collect()[0]
        assert row["n_classes"] == 4
        assert row["n_violating"] == 2
        assert row["exposed_rows"] == 4
        assert row["effective_k"] == 1
