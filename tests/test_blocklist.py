"""Aho-Corasick kernel + blocklist operator: classic automaton cases,
overlap/nesting counts, fuzz vs a naive scanner, and the Spark stage."""

import random

import pytest

from corpus_lab.kernel.acmatch import AhoCorasick


def naive_count(text: str, pattern: str) -> int:
    """All (possibly overlapping) occurrences by brute force."""
    n, m, c = len(text), len(pattern), 0
    for i in range(n - m + 1):
        if text[i:i + m] == pattern:
            c += 1
    return c


class TestAutomaton:
    def test_classic_he_she_hers(self):
        aut = AhoCorasick(["he", "she", "his", "hers"])
        got = sorted(aut.find_iter("ushers"))
        # "she" ends at 4, "he" ends at 4 (via output link), "hers" at 6
        pats = aut.patterns
        named = sorted((e, pats[i]) for e, i in got)
        assert named == [(4, "he"), (4, "she"), (6, "hers")]

    def test_overlapping_occurrences_count(self):
        aut = AhoCorasick(["aa"])
        assert aut.count_matches("aaaa") == {0: 3}

    def test_nested_pattern_both_count(self):
        aut = AhoCorasick(["ab", "abab"])
        counts = {aut.patterns[i]: c
                  for i, c in aut.count_matches("ababab").items()}
        assert counts == {"ab": 3, "abab": 2}

    def test_no_match(self):
        aut = AhoCorasick(["xyz"])
        assert aut.count_matches("abcabc") == {}

    def test_single_char_patterns(self):
        aut = AhoCorasick(["a", "b"])
        counts = {aut.patterns[i]: c
                  for i, c in aut.count_matches("abca").items()}
        assert counts == {"a": 2, "b": 1}

    def test_validation(self):
        with pytest.raises(ValueError):
            AhoCorasick([])
        with pytest.raises(ValueError):
            AhoCorasick(["a", ""])
        with pytest.raises(ValueError):
            AhoCorasick(["a", "a"])

    @pytest.mark.parametrize("seed", range(6))
    def test_fuzz_vs_naive(self, seed):
        rng = random.Random(seed)
        alpha = "abc"
        pats = set()
        while len(pats) < 5:
            pats.add("".join(rng.choice(alpha)
                             for _ in range(rng.randint(1, 4))))
        pats = sorted(pats)
        aut = AhoCorasick(pats)
        for _ in range(20):
            text = "".join(rng.choice(alpha)
                           for _ in range(rng.randint(0, 60)))
            got = {aut.patterns[i]: c
                   for i, c in aut.count_matches(text).items()}
            want = {p: naive_count(text, p) for p in pats
                    if naive_count(text, p)}
            assert got == want, (text, pats)


class TestBlocklistOperator:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            ("d1", "Fast TABLE table table scan"),
            ("d2", "nothing of note here"),
            ("d3", "hash value hash value a a a"),
            ("d4", None),
        ]
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_hits(self, spark, docs):
        from corpus_lab.operators.blocklist import blocklist_hits
        got = {(r["doc_id"], r["phrase"]): (r["n_hits"], r["first_end"])
               for r in blocklist_hits(
                   docs, ["table table", "hash value", "a a"]).collect()}
        # case-folded; "table table table" has 2 overlapping hits;
        # "a a a" has 2 overlapping "a a"
        assert got[("d1", "table table")] == (2, 16)
        assert got[("d3", "hash value")] == (2, 10)
        assert got[("d3", "a a")] == (2, 25)
        assert not any(k[0] in ("d2", "d4") for k in got)

    def test_verdict_includes_clean_docs(self, spark, docs):
        from corpus_lab.operators.blocklist import blocklist_verdict
        got = {r["doc_id"]: (r["total_hits"], r["blocked"])
               for r in blocklist_verdict(
                   docs, ["table table", "a a"], max_hits=1).collect()}
        assert got["d1"] == (2, True)
        assert got["d2"] == (0, False)
        assert got["d3"] == (2, True)
        assert got["d4"] == (0, False)

    def test_no_join_no_shuffle_in_hits_plan(self, spark, docs):
        from corpus_lab.operators.blocklist import blocklist_hits
        plan = blocklist_hits(docs, ["x y"])._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Join" not in plan
        assert "Exchange" not in plan
