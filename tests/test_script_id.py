"""Unicode script profiling: known-text counts, dominance, ties, and
plan shape."""

import pytest

from corpus_lab.operators.script_id import SCRIPTS, script_profile


class TestScriptProfile:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (0, "plain english text"),
            (1, "привет мир данные"),
            (2, "機器學習 データ 分析"),
            (3, "مرحبا بالعالم"),
            (4, "שלום עולם"),
            (5, "नमस्ते दुनिया"),
            (6, "안녕하세요 세계"),
            (7, "ελληνικά κείμενο"),
            (8, "mixed текст with latin dominance here"),
            (9, "1234 .,;: 5678"),
            (10, ""),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_counts_match_python(self, spark, docs):
        import re
        rows = {r["doc_id"]: r.asDict()
                for r in script_profile(docs).collect()}
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        for i, t in texts.items():
            for s, pat in SCRIPTS.items():
                want = len(re.findall(pat, t))
                assert rows[i][f"n_{s}"] == want, (i, s)

    def test_dominant(self, spark, docs):
        rows = {r["doc_id"]: r["dominant_script"]
                for r in script_profile(docs).collect()}
        assert rows[0] == "latin"
        assert rows[1] == "cyrillic"
        assert rows[2] == "cjk"
        assert rows[3] == "arabic"
        assert rows[4] == "hebrew"
        assert rows[5] == "devanagari"
        assert rows[6] == "hangul"
        assert rows[7] == "greek"
        assert rows[8] == "latin"  # latin chars outnumber the cyrillic run
        assert rows[9] == "none"   # digits/punct only
        assert rows[10] == "none"

    def test_tie_first_wins(self, spark):
        # one latin + one cyrillic char: tie -> first in SCRIPTS order
        docs = spark.createDataFrame([(0, "aб")], "doc_id long, text string")
        r = script_profile(docs).collect()[0]
        assert r["n_latin"] == 1 and r["n_cyrillic"] == 1
        assert r["dominant_script"] == "latin"

    def test_zero_shuffle_plan(self, spark, docs):
        plan = script_profile(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
