"""Sliding passage windows: coverage, overlap, tail rule, short docs,
and plan shape."""

import pytest

from corpus_lab.operators.passages import sliding_passages


def py_windows(n, size, stride):
    if n == 0:
        return []
    import math
    k = max(math.ceil((n - size) / stride), 0)
    starts = sorted({min(i * stride, max(n - size, 0))
                     for i in range(k + 1)})
    return starts


class TestSlidingPassages:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (0, " ".join(f"t{i}" for i in range(10))),
            (1, " ".join(f"u{i}" for i in range(11))),
            (2, "a b c"),            # shorter than size
            (3, ""),                  # empty -> nothing
            (4, " ".join(f"v{i}" for i in range(4))),  # exactly size
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_window_starts_match_reference(self, spark, docs):
        rows = sliding_passages(docs, size=4, stride=3).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["passage_idx"], r["tok_start"], r["n_toks"]))
        lens = {0: 10, 1: 11, 2: 3, 4: 4}
        for d, n in lens.items():
            starts = py_windows(n, 4, 3)
            got = sorted(by_doc[d])
            assert [s for _, s, _ in got] == starts, d
            assert [i for i, _, _ in got] == list(range(len(starts)))
            for _, s, ntoks in got:
                assert ntoks == min(4, n - s)
        assert 3 not in by_doc

    def test_every_token_covered_and_text_correct(self, spark, docs):
        rows = [r for r in sliding_passages(docs, size=4, stride=3)
                .collect() if r["doc_id"] == 1]
        toks = [f"u{i}" for i in range(11)]
        covered = set()
        for r in rows:
            s = r["tok_start"]
            want = " ".join(toks[s:s + 4])
            assert r["passage"] == want
            covered.update(range(s, s + r["n_toks"]))
        assert covered == set(range(11))

    def test_short_doc_single_whole_passage(self, spark, docs):
        rows = [r for r in sliding_passages(docs, size=4, stride=3)
                .collect() if r["doc_id"] == 2]
        assert len(rows) == 1
        assert rows[0]["passage"] == "a b c"
        assert rows[0]["n_toks"] == 3 and rows[0]["tok_start"] == 0

    def test_validation(self, spark, docs):
        with pytest.raises(ValueError):
            sliding_passages(docs, size=0, stride=1)
        with pytest.raises(ValueError):
            sliding_passages(docs, size=4, stride=5)

    def test_zero_shuffle_plan(self, spark, docs):
        plan = sliding_passages(docs, size=4, stride=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
