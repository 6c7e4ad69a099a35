"""Sorted-neighborhood near-dup (operators/snm.py) vs a sequential
Python reference: key packing, global rank, candidate window, verified
pairs — plus the no-global-window plan guarantee and hot-key runs."""

import re

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.snm import (
    snm_candidate_pairs,
    snm_global_rank,
    snm_near_dup,
    snm_numkey_sql,
)


# ---------------------------------------------------------- references

def _numkey_py(text: str, key_len: int = 10) -> int:
    norm = re.sub(r"[^a-z0-9]", "", (text or "")[:256].lower())
    padded = norm[:key_len].ljust(key_len, "0")
    acc = 0
    for ch in padded:
        o = ord(ch)
        acc = acc * 37 + (o - 47 if 48 <= o <= 57 else o - 86)
    return acc


def _lev_py(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _snm_py(rows, window=8, max_dist=12, key_len=10):
    """rows: [(doc_id, text)] -> sorted list of (a, b, dist)."""
    ranked = sorted(((r[1], r[0]) for r in rows if r[1] is not None),
                    key=lambda t: (_numkey_py(t[0], key_len), t[1]))
    out = []
    for i, (ta, a) in enumerate(ranked):
        for j in range(i + 1, min(i + 1 + window, len(ranked))):
            tb, b = ranked[j]
            if abs(len(ta) - len(tb)) > max_dist:
                continue
            d = _lev_py(ta, tb)
            if d <= max_dist:
                out.append((a, b, d))
    return sorted(out)


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


CORPUS = [
    # a near-dup cluster sharing a long prefix (one char edits)
    ("d01", "the quick brown fox jumps over the lazy dog"),
    ("d02", "the quick brown fox jumps over the lazy dogs"),
    ("d03", "the quick brown fox jumped over the lazy dog"),
    # exact copies
    ("d04", "breaking news: markets rally on rate cut"),
    ("d05", "breaking news: markets rally on rate cut"),
    # prefix-divergent near-dup (SNM's documented blind spot: the edit
    # is INSIDE the key prefix, so ranks separate — must NOT pair when
    # other rows sort between them)
    ("d06", "aaaa unique start but same long tail of words here"),
    ("d07", "zzzz unique start but same long tail of words here"),
    # filler spreading the rank space
    ("d08", "banana bread recipe with walnuts and honey"),
    ("d09", "cricket scores from the weekend county games"),
    ("d10", "daily weather outlook for the northern coast"),
    ("d11", "evening summary of parliamentary proceedings"),
    ("d12", "football transfer rumours roundup for july"),
    ("d13", None),
    ("d14", ""),
    ("d15", "..."),  # normalizes to empty -> all-pad key
    # >256 chars, all alnum past the scan bound: key is all-pad in BOTH
    # engines (the bounded scan is part of the key contract)
    ("d16", ". " * 130 + "late alnum content beyond the scan bound"),
    ("d17", "x" * 300),  # >256 chars of alnum: key from the prefix only
]


def test_numkey_matches_python(spark):
    df = _mkdocs(spark, CORPUS).filter(F.col("text").isNotNull())
    norm = ("regexp_replace(lower(substring(text, 1, 256)), "
            "'[^a-z0-9]', '')")
    got = {r["doc_id"]: r["nk"]
           for r in df.selectExpr("doc_id",
                                  f"{snm_numkey_sql(norm)} AS nk")
           .collect()}
    for doc_id, text in CORPUS:
        if text is not None:
            assert got[doc_id] == _numkey_py(text), doc_id


def test_numkey_is_order_preserving_on_prefixes(spark):
    words = ["", "0", "9z", "a", "abc", "abd", "az9", "b", "zzzzzzzzzz",
             "zzzzzzzzzzz"]  # 11 chars: beyond key_len ties with 10
    assert [w[:10] for w in sorted(words)] == \
        [w[:10] for w in sorted(words, key=_numkey_py)]


def test_numkey_key_len_bounds():
    with pytest.raises(ValueError):
        snm_numkey_sql("x", key_len=13)
    with pytest.raises(ValueError):
        snm_numkey_sql("x", key_len=0)
    assert 37 ** 12 < 2 ** 63  # the documented int64 guarantee


def test_global_rank_matches_single_window(spark):
    df = _mkdocs(spark, CORPUS).filter(F.col("text").isNotNull()) \
        .withColumn("nk", F.expr(snm_numkey_sql(
            "regexp_replace(lower(substring(text, 1, 256)), "
            "'[^a-z0-9]', '')")))
    got = {r["doc_id"]: r["_snm_rn"]
           for r in snm_global_rank(df, "nk", "doc_id",
                                    num_partitions=4).collect()}
    ref = sorted(((r[1], r[0]) for r in CORPUS if r[1] is not None),
                 key=lambda t: (_numkey_py(t[0]), t[1]))
    for rn, (_, doc_id) in enumerate(ref, 1):
        assert got[doc_id] == rn, doc_id


def test_degenerate_key_distribution_pre_flight(spark):
    """All-identical blocking keys collapse the quantile bounds into one
    range partition; with an explicit budget the rank pass aborts with a
    diagnosis BEFORE the straggler window stage.  A healthy key spread
    under the same budget passes untouched."""
    hot = spark.createDataFrame(
        [(f"d{i}", 7) for i in range(40)], "doc_id string, nk long")
    with pytest.raises(ValueError, match="degenerate"):
        snm_global_rank(hot, "nk", "doc_id", num_partitions=4,
                        max_partition_rows=10).collect()
    spread = spark.createDataFrame(
        [(f"d{i}", i) for i in range(40)], "doc_id string, nk long")
    ranked = snm_global_rank(spread, "nk", "doc_id", num_partitions=4,
                             max_partition_rows=30)
    assert {r["_snm_rn"] for r in ranked.collect()} == set(range(1, 41))
    # the automatic rule (no explicit budget) never trips at test scale
    assert snm_global_rank(hot, "nk", "doc_id",
                           num_partitions=4).count() == 40


@pytest.mark.parametrize("window", [1, 3, 8])
def test_candidates_match_reference_window(spark, window):
    df = _mkdocs(spark, CORPUS)
    got = sorted((r["a"], r["b"], r["rank_gap"])
                 for r in snm_candidate_pairs(df, window=window).collect())
    ranked = sorted(((r[1], r[0]) for r in CORPUS if r[1] is not None),
                    key=lambda t: (_numkey_py(t[0]), t[1]))
    ref = sorted((ranked[i][1], ranked[j][1], j - i)
                 for i in range(len(ranked))
                 for j in range(i + 1, min(i + 1 + window, len(ranked))))
    assert got == ref


def test_near_dup_matches_reference(spark):
    got = sorted((r["a"], r["b"], r["dist"])
                 for r in snm_near_dup(_mkdocs(spark, CORPUS),
                                       window=4, max_dist=6).collect())
    assert got == _snm_py(CORPUS, window=4, max_dist=6)
    # the planted clusters are found...
    pairs = {(a, b) for a, b, _ in got}
    assert ("d01", "d02") in pairs or ("d02", "d01") in pairs
    assert ("d04", "d05") in pairs or ("d05", "d04") in pairs
    dists = {(a, b): d for a, b, d in got}
    assert dists.get(("d04", "d05"), dists.get(("d05", "d04"))) == 0
    # ...and the prefix-divergent pair is rank-separated (documented
    # SNM blind spot, NOT a silent wrong answer)
    assert ("d06", "d07") not in pairs and ("d07", "d06") not in pairs


def test_hot_key_run_stays_linear_and_exact(spark):
    # 60 rows sharing ONE blocking prefix (templated spam): a hash
    # block would go quadratic; SNM emits exactly run_len*w - w*(w+1)/2
    # candidate pairs.  Exactness vs the reference catches any
    # boundary-bucket duplication or loss inside the tie run.
    rows = [(f"s{i:03d}", f"subscribe now! issue {i:03d} of our letter")
            for i in range(60)]
    w = 5
    got = sorted((r["a"], r["b"], r["rank_gap"])
                 for r in snm_candidate_pairs(
                     _mkdocs(spark, rows), window=w).collect())
    ranked = sorted(((r[1], r[0]) for r in rows),
                    key=lambda t: (_numkey_py(t[0]), t[1]))
    ref = sorted((ranked[i][1], ranked[j][1], j - i)
                 for i in range(len(ranked))
                 for j in range(i + 1, min(i + 1 + w, len(ranked))))
    assert got == ref
    assert len(got) == 60 * w - w * (w + 1) // 2


def test_no_global_window_no_bnlj(spark):
    plan = snm_near_dup(_mkdocs(spark, CORPUS)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_window_validation(spark):
    with pytest.raises(ValueError):
        snm_candidate_pairs(_mkdocs(spark, CORPUS), window=0)
