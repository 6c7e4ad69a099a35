"""UniMax allocation/selection (operators/unimax.py) vs a sequential
Python reference: budget rollforward, epoch caps, greedy prefix
selection, conservation bounds, degenerate inputs."""

import hashlib

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.unimax import (
    unimax_allocations,
    unimax_select,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, lang string, tok bigint")


def _alloc_py(rows, budget, max_epochs):
    from collections import defaultdict
    c = defaultdict(int)
    for _, lang, tok in rows:
        c[lang] += tok
    out, remaining = {}, budget
    totals = sorted((v, k) for k, v in c.items())
    for i, (cv, lang) in enumerate(totals):
        share = remaining // (len(totals) - i)
        a = min(max_epochs * cv, share)
        out[lang] = (cv, max_epochs * cv, a)
        remaining -= a
    return out


def _select_py(rows, budget, max_epochs, salt="unimax-v1"):
    alloc = _alloc_py(rows, budget, max_epochs)
    by_lang = {}
    for doc_id, lang, tok in rows:
        by_lang.setdefault(lang, []).append((doc_id, tok))
    out = []
    for lang, docs in by_lang.items():
        a = alloc[lang][2]
        cum = 0
        key = lambda d: (hashlib.md5(  # noqa: E731
            f"{salt}:{d[0]}".encode()).hexdigest(), d[0])
        for doc_id, tok in sorted(docs, key=key):
            if cum + tok > a:
                break
            cum += tok
            out.append((lang, doc_id, tok, a))
    return sorted(out)


ROWS = (
    [(i, "en", 100) for i in range(50)]          # 5000 tokens (head)
    + [(100 + i, "de", 80) for i in range(10)]   # 800
    + [(200 + i, "sw", 30) for i in range(4)]    # 120 (tail, will cap)
    + [(300 + i, "yo", 25) for i in range(2)]    # 50  (tail, will cap)
)


def test_allocations_match_reference(spark):
    got = {r["lang"]: (r["corpus_tokens"], r["cap"], r["alloc"])
           for r in unimax_allocations(_df(spark, ROWS), budget=2000,
                                       max_epochs=2).collect()}
    assert got == _alloc_py(ROWS, 2000, 2)
    # tails capped at 2 epochs, rollforward reaches the head
    assert got["yo"][2] == 100 and got["sw"][2] == 240  # 2 * corpus
    assert got["en"][2] > 2000 // 4  # head absorbed the rolled budget


def test_allocation_invariants(spark):
    for budget, epochs in [(0, 1), (137, 1), (2000, 2), (10**9, 3)]:
        rows = unimax_allocations(_df(spark, ROWS), budget,
                                  epochs).collect()
        total = sum(r["alloc"] for r in rows)
        assert total <= budget
        for r in rows:
            assert 0 <= r["alloc"] <= r["cap"] == epochs * r["corpus_tokens"]
        # budget beyond every cap -> every language fully capped
        if budget == 10**9:
            assert all(r["alloc"] == r["cap"] for r in rows)


def test_uniform_when_no_cap_binds(spark):
    rows = [(i, f"l{i % 4}", 1000) for i in range(40)]  # 4 equal langs
    got = unimax_allocations(_df(spark, rows), budget=8000,
                             max_epochs=10).collect()
    assert [r["alloc"] for r in got] == [2000] * 4  # exact uniform split


def test_select_matches_reference(spark):
    got = sorted(tuple(r) for r in unimax_select(
        _df(spark, ROWS), budget=2000, max_epochs=2).collect())
    ref = _select_py(ROWS, 2000, 2)
    assert got == ref
    assert ref  # nonempty


def test_select_never_exceeds_alloc(spark):
    sel = unimax_select(_df(spark, ROWS), budget=777, max_epochs=3)
    per_lang = (sel.groupBy("lang")
                .agg(F.sum("tok").alias("used"),
                     F.first("alloc").alias("alloc")).collect())
    assert per_lang
    for r in per_lang:
        assert r["used"] <= r["alloc"]


def test_validation(spark):
    with pytest.raises(ValueError):
        unimax_allocations(_df(spark, ROWS), budget=-1)
    with pytest.raises(ValueError):
        unimax_allocations(_df(spark, ROWS), budget=10, max_epochs=0)


def test_empty_input(spark):
    empty = _df(spark, []).filter(F.lit(False))
    assert unimax_allocations(empty, 100).count() == 0
    assert unimax_select(empty, 100).count() == 0
