"""Structural tests for the banded dedup operators (beyond oracle parity):
pigeonhole completeness for SimHash and the b x r S-curve for MinHash."""

import itertools

from pyspark.sql import functions as F

from corpus_lab.operators.text_dedup import (
    minhash_candidate_pairs,
    simhash,
    simhash16,
    simhash_band_stats,
    simhash_bands,
    simhash_bands_near_dup_pairs,
    simhash_near_dup_pairs,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = []
    for i in range(40):
        words = base.split()
        # progressive single-word edits create a near-dup gradient
        words[i % len(words)] = f"w{i}"
        rows.append((i, " ".join(words)))
    # exact near-dup cluster
    rows += [(100, base), (101, base), (102, base + " today")]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestSimhashBanding:
    def test_pairs_exactly_match_brute_force(self, spark):
        """Pigeonhole banding must return EXACTLY all pairs with
        hamming <= max_hamming — including pairs whose differing bits are
        spread 2+1 or 1+1+1 across naive halves (the round-1 OR-of-halves
        blocking missed those)."""
        d = _docs(spark)
        for max_hamming in (1, 2, 3):
            got = {
                (r["a"], r["b"], r["hamming"])
                for r in simhash_near_dup_pairs(d, max_hamming=max_hamming).collect()
            }
            sims = {r["doc_id"]: r["simhash"]
                    for r in simhash16(d).collect()}
            want = set()
            for a, b in itertools.combinations(sorted(sims), 2):
                h = bin(sims[a] ^ sims[b]).count("1")
                if h <= max_hamming:
                    want.add((a, b, h))
            assert got == want

    def test_no_nested_loop_join(self, spark):
        plan = simhash_near_dup_pairs(_docs(spark), max_hamming=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestSimhashBandsWide:
    def test_band0_equals_narrow_simhash32(self, spark):
        """Band 0 uses md5's leading 8 hex chars — the exact token hash of
        simhash(n_bits=32), so the two must agree bit-for-bit (locks the
        slice layout and the +/-1 fold against drift)."""
        d = _docs(spark)
        wide = {r["doc_id"]: r["sig"] for r in simhash_bands(d).collect()}
        narrow = {r["doc_id"]: r["simhash"]
                  for r in simhash(d, n_bits=32).collect()}
        assert {k: v[0] for k, v in wide.items()} == narrow

    def test_bands_are_independent_slices(self, spark):
        """Different bands hash through disjoint md5 slices — across the
        corpus they must not be identical arrays (independence smoke)."""
        sigs = [r["sig"] for r in simhash_bands(_docs(spark)).collect()]
        for j in range(1, 4):
            assert any(s[0] != s[j] for s in sigs)

    def test_pairs_exactly_match_brute_force(self, spark):
        """Same pigeonhole-completeness contract as the int64 variant,
        over the 128-bit concatenated signature (hamming = sum of
        per-band hammings)."""
        d = _docs(spark)
        sigs = {r["doc_id"]: r["sig"] for r in simhash_bands(d).collect()}
        for max_hamming in (0, 1, 3):
            got = {
                (r["a"], r["b"], r["hamming"])
                for r in simhash_bands_near_dup_pairs(
                    d, max_hamming=max_hamming, n_bands=4).collect()
            }
            want = set()
            for a, b in itertools.combinations(sorted(sigs), 2):
                h = sum(bin(x ^ y).count("1")
                        for x, y in zip(sigs[a], sigs[b]))
                if h <= max_hamming:
                    want.add((a, b, h))
            assert got == want

    def test_radius_beyond_band_count_rejected(self, spark):
        import pytest
        with pytest.raises(ValueError, match="n_bands >= max_hamming"):
            simhash_bands_near_dup_pairs(_docs(spark), max_hamming=4,
                                         n_bands=4)

    def test_band_width_cap_rejected(self, spark):
        import pytest
        with pytest.raises(ValueError, match="exceed sha2-256"):
            simhash_bands(_docs(spark), band_bits=60, n_bands=5)

    def test_sha2_wide_bands_match_brute_force(self, spark):
        """Beyond md5's 32 hex chars the token hash switches to sha2-256:
        4 x 60-bit bands (240-bit signature) must still satisfy the exact
        all-pairs-in-radius contract."""
        d = _docs(spark)
        sigs = {r["doc_id"]: r["sig"]
                for r in simhash_bands(d, band_bits=60, n_bands=4).collect()}
        for max_hamming in (0, 3):
            got = {
                (r["a"], r["b"], r["hamming"])
                for r in simhash_bands_near_dup_pairs(
                    d, max_hamming=max_hamming, band_bits=60,
                    n_bands=4).collect()
            }
            want = set()
            for a, b in itertools.combinations(sorted(sigs), 2):
                h = sum(bin(x ^ y).count("1")
                        for x, y in zip(sigs[a], sigs[b]))
                if h <= max_hamming:
                    want.add((a, b, h))
            assert got == want

    def test_band_stats_census_is_exact(self, spark):
        """simhash_band_stats must report, per band, exactly the
        C(group,2) join contribution the banded self-join would emit."""
        d = _docs(spark)
        sig = simhash_bands(d)
        sigs = [r["sig"] for r in sig.collect()]
        got = {r["band"]: (r["n_groups"], r["max_group"],
                           r["candidate_pairs"])
               for r in simhash_band_stats(sig).collect()}
        for band in range(4):
            from collections import Counter
            c = Counter(s[band] for s in sigs)
            want = (len(c), max(c.values()),
                    sum(v * (v - 1) // 2 for v in c.values()))
            assert got[band] == want

    def test_candidate_budget_guard_trips_with_census(self, spark):
        import pytest
        d = _docs(spark)
        with pytest.raises(ValueError, match="candidate pairs"):
            # 1-bit bands: every doc collides with every doc — any
            # realistic budget trips, and the error carries the census
            simhash_bands_near_dup_pairs(d, max_hamming=1, band_bits=1,
                                         n_bands=2, max_candidate_pairs=10)

    def test_candidate_budget_guard_passes_through(self, spark):
        """A budget large enough for the census must not change results."""
        d = _docs(spark)
        unguarded = set(map(tuple, simhash_bands_near_dup_pairs(
            d, max_hamming=3).collect()))
        guarded = set(map(tuple, simhash_bands_near_dup_pairs(
            d, max_hamming=3, max_candidate_pairs=10**9).collect()))
        assert guarded == unguarded

    def test_no_nested_loop_join(self, spark):
        plan = simhash_bands_near_dup_pairs(_docs(spark), max_hamming=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestMinhashBanding:
    def test_r2_is_stricter_than_r1(self, spark):
        """r=2 banding requires a full band (2 hashes) to agree: candidate
        sets shrink monotonically vs r=1, and identical docs always remain
        candidates (every band agrees)."""
        d = _docs(spark)
        r1 = {(r["a"], r["b"]) for r in
              minhash_candidate_pairs(d, n_hashes=4, rows_per_band=1).collect()}
        r2 = {(r["a"], r["b"]) for r in
              minhash_candidate_pairs(d, n_hashes=4, rows_per_band=2).collect()}
        assert r2 <= r1
        assert (100, 101) in r2  # identical texts collide in every band

    def test_no_nested_loop_join(self, spark):
        plan = minhash_candidate_pairs(_docs(spark), n_hashes=4) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    def test_candidate_budget_guard(self, spark):
        """The generic band census guards the MinHash route too: an
        impossible budget trips with the per-band numbers, a generous one
        leaves results unchanged."""
        import pytest
        d = _docs(spark)
        unguarded = set(map(tuple, minhash_candidate_pairs(
            d, n_hashes=4).collect()))
        assert unguarded  # the gradient corpus must produce candidates
        guarded = set(map(tuple, minhash_candidate_pairs(
            d, n_hashes=4, max_candidate_pairs=10**9).collect()))
        assert guarded == unguarded
        with pytest.raises(ValueError, match="candidate pairs"):
            minhash_candidate_pairs(d, n_hashes=4, max_candidate_pairs=0)


def test_simhash_banding_rejects_zero_width_bands(spark):
    import pytest
    with pytest.raises(ValueError, match="bands"):
        simhash_near_dup_pairs(_docs(spark), max_hamming=5, n_bits=4)


class TestDatasetSplit:
    def test_stable_under_repartition_and_growth(self, spark):
        """The property randomSplit cannot give: assignments depend only on
        (salt, id) — identical across partitionings, and adding documents
        never moves existing ones between splits."""
        from corpus_lab.operators.text_analysis import assign_split
        d = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"]: r["split"]
             for r in assign_split(d).collect()}
        b = {r["doc_id"]: r["split"]
             for r in assign_split(d.repartition(13)).collect()}
        assert a == b
        grown = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
        g = {r["doc_id"]: r["split"] for r in assign_split(grown).collect()}
        assert all(g[k] == v for k, v in a.items())
        # fractions roughly honored and salt re-rolls
        from collections import Counter
        c = Counter(a.values())
        assert 120 < c["test"] < 280 and 120 < c["val"] < 280
        s2 = {r["doc_id"]: r["split"]
              for r in assign_split(d, salt="split-v2").collect()}
        assert s2 != a


class TestSpanDedup:
    """C4 three-sentence-span dedup semantics (dedup_spans)."""

    def _run(self, spark, rows):
        from corpus_lab.operators.text_dedup import dedup_spans
        d = spark.createDataFrame(rows,
                                  "doc_id long, sentences array<string>")
        return {r["doc_id"]: r["clean_text"]
                for r in dedup_spans(d, "sentences", "doc_id").collect()}

    def test_first_occurrence_wins_later_docs_lose_span(self, spark):
        b = ["b one", "b two", "b three"]
        got = self._run(spark, [
            (0, b + ["x only"]),      # first: keeps the boilerplate
            (1, b + ["y only"]),      # later: loses sentences 0-2
            (2, b),                   # fully covered: vanishes
        ])
        assert got[0] == "b one\nb two\nb three\nx only"
        assert got[1] == "y only"
        assert 2 not in got

    def test_within_doc_repeat_keeps_first_window_only(self, spark):
        # spans (s,s,s) at pos 0 and pos 1; the pos-1 duplicate covers
        # sentences 1-3, so only sentence 0 survives
        got = self._run(spark, [(3, ["s", "s", "s", "s"])])
        assert got[3] == "s"

    def test_short_docs_emit_no_windows_and_survive_whole(self, spark):
        got = self._run(spark, [(4, ["a", "b"]), (5, ["a", "b"])])
        assert got[4] == "a\nb" and got[5] == "a\nb"

    def test_no_nested_loop_join(self, spark):
        from corpus_lab.operators.text_dedup import dedup_spans
        d = spark.createDataFrame(
            [(0, ["a", "b", "c", "d"])],
            "doc_id long, sentences array<string>")
        plan = dedup_spans(d)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestParagraphDedup:
    """Dolma-style exact paragraph dedup semantics (dedup_paragraphs)."""

    def _run(self, spark, rows):
        from corpus_lab.operators.text_dedup import dedup_paragraphs
        d = spark.createDataFrame(rows,
                                  "doc_id long, paragraphs array<string>")
        return {r["doc_id"]: r["clean_text"]
                for r in dedup_paragraphs(d, "paragraphs", "doc_id")
                .collect()}

    def test_first_occurrence_survives_corpus_wide(self, spark):
        got = self._run(spark, [
            (0, ["footer", "alpha"]),   # first footer: kept
            (1, ["beta", "footer"]),    # later footer: dropped
            (2, ["footer"]),            # fully duplicated: vanishes
        ])
        assert got[0] == "footer\nalpha"
        assert got[1] == "beta"
        assert 2 not in got

    def test_within_doc_repeat_collapses(self, spark):
        got = self._run(spark, [(3, ["p", "q", "p", "p"])])
        assert got[3] == "p\nq"

    def test_order_preserved_after_removal(self, spark):
        got = self._run(spark, [
            (0, ["x"]),
            (1, ["a", "x", "b", "x", "c"]),
        ])
        assert got[1] == "a\nb\nc"

    def test_no_nested_loop_join(self, spark):
        from corpus_lab.operators.text_dedup import dedup_paragraphs
        d = spark.createDataFrame(
            [(0, ["a", "b"])], "doc_id long, paragraphs array<string>")
        plan = dedup_paragraphs(d)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestRemoveFrequentSentences:
    """CCNet/RefinedWeb frequency-threshold boilerplate removal
    (remove_frequent_sentences): over-frequent sentences are removed
    from EVERY doc, including the first occurrence."""

    def _run(self, spark, rows, schema="doc_id long, sentences array<string>",
             **kw):
        from corpus_lab.operators.text_dedup import (
            remove_frequent_sentences)
        d = spark.createDataFrame(rows, schema)
        return {r["doc_id"]: (r["clean_text"], r["n_kept"])
                for r in remove_frequent_sentences(d, **kw).collect()}

    def test_over_threshold_removed_everywhere(self, spark):
        got = self._run(spark, [
            (0, ["banner", "alpha"]),
            (1, ["beta", "banner"]),
            (2, ["banner", "gamma"]),   # 3 docs > max_doc_freq=2
            (3, ["banner"]),            # 4th doc, all boilerplate
        ], max_doc_freq=2)
        assert got[0] == ("alpha", 1)   # FIRST occurrence removed too
        assert got[1] == ("beta", 1)
        assert got[2] == ("gamma", 1)
        assert 3 not in got             # fully-boilerplate doc vanishes

    def test_at_threshold_kept(self, spark):
        got = self._run(spark, [
            (0, ["shared", "a"]),
            (1, ["shared", "b"]),       # 2 docs == max_doc_freq: kept
        ], max_doc_freq=2)
        assert got[0] == ("shared a", 2)
        assert got[1] == ("shared b", 2)

    def test_within_doc_repeats_count_one_doc(self, spark):
        # the same sentence 5x in ONE doc is doc_freq=1, not 5
        got = self._run(spark, [(0, ["x"] * 5 + ["y"])], max_doc_freq=2)
        assert got[0] == ("x x x x x y", 6)

    def test_normalized_matching_preserves_original_text(self, spark):
        got = self._run(spark, [
            (0, ["Click HERE", "a"]),
            (1, ["click here", "b"]),
            (2, ["  click here  ", "c"]),  # lower(trim) all one key
        ], max_doc_freq=2)
        assert got[0] == ("a", 1)
        assert got[1] == ("b", 1)
        assert got[2] == ("c", 1)

    def test_group_scoped_threshold(self, spark):
        rows = [
            (0, "A", ["promo", "a0"]), (1, "A", ["promo", "a1"]),
            (2, "A", ["promo", "a2"]),          # 3 A-docs: hot in A
            (3, "B", ["promo", "b0"]),          # 1 B-doc: kept in B
        ]
        got = self._run(
            spark, rows,
            schema="doc_id long, source string, sentences array<string>",
            group_col="source", max_doc_freq=2)
        assert got[0] == ("a0", 1) and got[2] == ("a2", 1)
        assert got[3] == ("promo b0", 2)

    def test_order_preserved_and_no_bnlj(self, spark):
        from corpus_lab.operators.text_dedup import (
            remove_frequent_sentences)
        got = self._run(spark, [
            (0, ["hot"]), (1, ["hot"]), (2, ["hot"]),
            (3, ["p", "hot", "q", "hot", "r"]),
        ], max_doc_freq=2)
        assert got[3] == ("p q r", 3)
        d = spark.createDataFrame([(0, ["a"])],
                                  "doc_id long, sentences array<string>")
        plan = remove_frequent_sentences(d)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestDuplicatedGramSpans:
    """Full ExactSubstr semantics (duplicated_gram_spans): maximal
    duplicated-span reconstruction from duplicated k-gram starts must
    equal a brute-force reference on every layout."""

    @staticmethod
    def _brute(docs: dict, k: int, keep_first: bool) -> set:
        """Reference: mine duplicated k-gram starts naively, merge runs
        whose start gap <= k into (id, start, end, len, n_grams)."""
        from collections import defaultdict
        occ = defaultdict(list)
        for i, toks in docs.items():
            for p in range(len(toks) - k + 1):
                occ[tuple(toks[p:p + k])].append((i, p))
        starts = defaultdict(list)
        for where in occ.values():
            if len(where) < 2:
                continue
            exempt = min(where) if keep_first else None
            for ip in where:
                if ip != exempt:
                    starts[ip[0]].append(ip[1])
        spans = set()
        for i, ps in starts.items():
            ps.sort()
            run = [ps[0]]
            for p in ps[1:]:
                if p > run[-1] + k:
                    spans.add((i, run[0], run[-1] + k - 1,
                               run[-1] + k - run[0], len(run)))
                    run = [p]
                else:
                    run.append(p)
            spans.add((i, run[0], run[-1] + k - 1,
                       run[-1] + k - run[0], len(run)))
        return spans

    def _run(self, spark, docs: dict, k: int, keep_first: bool = True) -> set:
        from corpus_lab.operators.text_dedup import duplicated_gram_spans
        d = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in docs.items()],
            "doc_id long, text string")
        out = duplicated_gram_spans(d, "text", "doc_id", k=k,
                                    keep_first=keep_first)
        return {(r["doc_id"], r["span_start"], r["span_end"],
                 r["span_len"], r["n_grams"]) for r in out.collect()}

    def test_shared_prefix_first_doc_exempt(self, spark):
        shared = [f"s{j}" for j in range(12)]
        docs = {0: shared + ["a0", "a1"], 1: shared + ["b0", "b1"]}
        got = self._run(spark, docs, k=8)
        # doc 0 holds every gram's first occurrence; doc 1 loses the
        # full 12-token prefix as ONE maximal span (5 grams merged)
        assert got == {(1, 0, 11, 12, 5)}

    def test_mid_chunk_duplicate_found(self, spark):
        # a duplicate that starts mid-doc at a position no fixed
        # non-overlapping chunking would align with (the dedup_chunks
        # blind spot this operator exists to close)
        shared = [f"s{j}" for j in range(9)]
        docs = {
            0: [f"u{j}" for j in range(5)] + shared + ["u5"],
            1: [f"v{j}" for j in range(3)] + shared + ["v3", "v4"],
        }
        got = self._run(spark, docs, k=8)
        assert got == {(1, 3, 11, 9, 2)}

    def test_two_separate_spans_not_merged(self, spark):
        a = [f"a{j}" for j in range(8)]
        b = [f"b{j}" for j in range(8)]
        gap = [f"g{j}" for j in range(9)]  # > k unique tokens between
        docs = {0: a + ["x"] + b, 1: a + gap + b}
        got = self._run(spark, docs, k=8)
        assert got == {(1, 0, 7, 8, 1), (1, 17, 24, 8, 1)}

    def test_keep_first_false_marks_every_occurrence(self, spark):
        shared = [f"s{j}" for j in range(8)]
        docs = {0: shared, 1: shared}
        got = self._run(spark, docs, k=8, keep_first=False)
        assert got == {(0, 0, 7, 8, 1), (1, 0, 7, 8, 1)}

    def test_within_doc_repetition(self, spark):
        blk = [f"r{j}" for j in range(8)]
        docs = {5: blk + ["mid0", "mid1"] + blk}
        got = self._run(spark, docs, k=8)
        assert got == {(5, 10, 17, 8, 1)}

    def test_matches_brute_force_on_overlapping_layouts(self, spark):
        # deterministic pseudo-random corpus with heavy token reuse so
        # grams collide at staggered, partially-overlapping positions
        import random
        rng = random.Random(42)
        vocab = [f"t{j}" for j in range(12)]
        docs = {i: [vocab[rng.randrange(len(vocab))] for _ in range(30)]
                for i in range(8)}
        for k in (3, 5):
            for keep_first in (True, False):
                assert self._run(spark, docs, k, keep_first) == \
                    self._brute(docs, k, keep_first), (k, keep_first)

    def test_short_docs_and_no_dups_emit_nothing(self, spark):
        docs = {0: ["a", "b"], 1: [f"u{j}" for j in range(20)]}
        assert self._run(spark, docs, k=8) == set()

    def test_no_nested_loop_join(self, spark):
        from corpus_lab.operators.text_dedup import duplicated_gram_spans
        d = spark.createDataFrame([(0, "a b c d e f g h i")],
                                  "doc_id long, text string")
        plan = duplicated_gram_spans(d)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestRemoveSpans:
    """Cut stage (remove_spans): applying duplicated_gram_spans output
    must drop exactly the covered tokens, in place, per document."""

    def _clean(self, spark, docs: dict, k: int) -> dict:
        from corpus_lab.operators.text_dedup import (
            duplicated_gram_spans, remove_spans)
        d = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in docs.items()],
            "doc_id long, text string")
        sp = duplicated_gram_spans(d, "text", "doc_id", k=k)
        out = remove_spans(d, sp, "text", "doc_id")
        return {r["doc_id"]: r["clean_text"] for r in out.collect()}

    def test_later_copy_cut_first_copy_and_clean_docs_untouched(self, spark):
        shared = [f"s{j}" for j in range(10)]
        docs = {
            0: shared + ["a0", "a1"],            # first: survives whole
            1: ["b0"] + shared + ["b1"],         # later: loses the block
            2: [f"u{j}" for j in range(12)],     # no dups: untouched
        }
        got = self._clean(spark, docs, k=8)
        assert got[0] == " ".join(shared + ["a0", "a1"])
        assert got[1] == "b0 b1"
        assert got[2] == " ".join(f"u{j}" for j in range(12))

    def test_fully_covered_doc_becomes_empty(self, spark):
        shared = [f"s{j}" for j in range(8)]
        got = self._clean(spark, {0: shared, 1: shared}, k=8)
        assert got[0] == " ".join(shared) and got[1] == ""

    def test_multiple_spans_cut_independently(self, spark):
        a = [f"a{j}" for j in range(8)]
        b = [f"b{j}" for j in range(8)]
        gap = [f"g{j}" for j in range(9)]
        docs = {0: a + ["x"] + b, 1: a + gap + b}
        got = self._clean(spark, docs, k=8)
        assert got[1] == " ".join(gap)

    def test_no_nested_loop_join(self, spark):
        from corpus_lab.operators.text_dedup import (
            duplicated_gram_spans, remove_spans)
        d = spark.createDataFrame([(0, "a b c d e f g h i")],
                                  "doc_id long, text string")
        sp = duplicated_gram_spans(d)
        plan = remove_spans(d, sp)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def _lev(a: str, b: str) -> int:
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class TestEditDistanceNearDup:
    """edit_distance_near_dup_pairs = exact Levenshtein over MinHash
    band candidates: result must equal a brute replay of the candidate
    set, and the thresholded banded DP must match the full DP."""

    def test_equals_brute_force_over_candidates(self, spark):
        from corpus_lab.operators.text_dedup import (
            edit_distance_near_dup_pairs, minhash_candidate_pairs)
        d = _docs(spark)
        for max_dist in (0, 4, 12):
            got = {(r["a"], r["b"], r["dist"])
                   for r in edit_distance_near_dup_pairs(
                       d, max_dist=max_dist).collect()}
            cand = {(r["a"], r["b"])
                    for r in minhash_candidate_pairs(d, 4).collect()}
            texts = {r["doc_id"]: r["text"] for r in d.collect()}
            want = set()
            for a, b in cand:
                dist = _lev(texts[a], texts[b])
                if dist <= max_dist:
                    want.add((a, b, dist))
            assert got == want

    def test_identical_docs_distance_zero(self, spark):
        from corpus_lab.operators.text_dedup import (
            edit_distance_near_dup_pairs)
        got = {(r["a"], r["b"]): r["dist"]
               for r in edit_distance_near_dup_pairs(
                   _docs(spark), max_dist=0).collect()}
        assert got.get((100, 101)) == 0
        assert all(v == 0 for v in got.values())

    def test_confined_to_candidates(self, spark):
        """A doc pair with small edit distance but no shared band never
        appears — the operator's contract is candidates-then-verify, not
        corpus-wide Levenshtein."""
        from corpus_lab.operators.text_dedup import (
            edit_distance_near_dup_pairs, minhash_candidate_pairs)
        d = _docs(spark)
        cand = {(r["a"], r["b"])
                for r in minhash_candidate_pairs(d, 4).collect()}
        got = {(r["a"], r["b"])
               for r in edit_distance_near_dup_pairs(
                   d, max_dist=100).collect()}
        assert got <= cand

    def test_no_nested_loop_join(self, spark):
        from corpus_lab.operators.text_dedup import (
            edit_distance_near_dup_pairs)
        plan = edit_distance_near_dup_pairs(_docs(spark), max_dist=4) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestContainmentPairs:
    def test_quote_inclusion_caught_jaccard_misses(self, spark):
        """A 10-word doc quoted verbatim inside a 100-word doc:
        containment of the small side is 1.0 while Jaccard is ~0.1 —
        the pair class ngram_jaccard_pairs(threshold=0.5) structurally
        drops."""
        from corpus_lab.operators.text_dedup import (
            containment_pairs, ngram_jaccard_pairs)
        quote = " ".join(f"q{i}" for i in range(10))
        filler = " ".join(f"f{i}" for i in range(90))
        rows = [(0, quote), (1, filler + " " + quote),
                (2, quote), (3, "unrelated words entirely different")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["a"], r["b"]): (r["c_ab"], r["c_ba"])
               for r in containment_pairs(d, threshold=0.9,
                                          max_df=50).collect()}
        assert got[(0, 1)][0] == 1.0 and got[(0, 1)][1] < 0.2
        assert got[(0, 2)] == (1.0, 1.0)
        jac = {(r["a"], r["b"])
               for r in ngram_jaccard_pairs(d, threshold=0.5).collect()}
        assert (0, 1) not in jac and (0, 2) in jac

    def test_hot_shingle_docs_are_the_documented_recall_edge(self, spark):
        """Docs made ENTIRELY of over-max_df shingles produce no
        candidates — the documented blocking trade-off."""
        from corpus_lab.operators.text_dedup import containment_pairs
        rows = [(i, "hot common boiler plate") for i in range(10)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        assert containment_pairs(d, threshold=0.5, min_df=2,
                                 max_df=5).count() == 0
        # widening the df window restores them
        assert containment_pairs(d, threshold=0.5, min_df=2,
                                 max_df=20).count() == 45

    def test_direction_asymmetry_values(self, spark):
        from corpus_lab.operators.text_dedup import containment_pairs
        rows = [(0, "a b c d"), (1, "a b c d e f g h")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        r = containment_pairs(d, threshold=0.5).collect()
        assert len(r) == 1
        row = r[0]
        # doc 0 has 3 distinct 2-shingles, all inside doc 1's 7
        assert row["n_inter"] == 3
        assert row["c_ab"] == 1.0 and row["c_ba"] == round(3 / 7, 6)

    def test_budget_guard_trips(self, spark):
        import pytest
        from corpus_lab.operators.text_dedup import containment_pairs
        rows = [(i, "x y z w") for i in range(10)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        with pytest.raises(ValueError, match="candidate pairs"):
            containment_pairs(d, max_df=20, max_candidate_pairs=1).collect()

    def test_no_nested_loop_join(self, spark):
        from corpus_lab.operators.text_dedup import containment_pairs
        d = spark.createDataFrame([(0, "a b c"), (1, "a b c")],
                                  "doc_id long, text string")
        plan = containment_pairs(d)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestFuzzyContamination:
    def _rel(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_paraphrase_leak_caught_exact_ngrams_miss(self, spark):
        """A benchmark item with one word changed every 5 words has zero
        shared 8-grams (the PaLM exact recipe misses it) but high
        shingle-Jaccard — the gap this operator closes."""
        from corpus_lab.operators.text_dedup import (
            contamination_check, fuzzy_contamination)
        base = [f"w{i}" for i in range(40)]
        leaked = list(base)
        for i in range(0, 40, 5):
            leaked[i] = f"x{i}"
        train = self._rel(spark, [(1, " ".join(leaked)),
                                  (2, "totally unrelated text here")])
        bench = self._rel(spark, [(100, " ".join(base))])
        got = {(r["train_id"], r["bench_id"]): r["jaccard"]
               for r in fuzzy_contamination(train, bench, threshold=0.2,
                                            n_hashes=8).collect()}
        assert (1, 100) in got and got[(1, 100)] > 0.4
        assert (2, 100) not in got
        exact = contamination_check(train, bench, n=8)
        assert exact.count() == 0

    def test_cross_relation_only_no_within_side_pairs(self, spark):
        """Two identical TRAIN docs never pair with each other — the
        join is strictly train x bench."""
        from corpus_lab.operators.text_dedup import fuzzy_contamination
        dup = "same words every time here"
        train = self._rel(spark, [(1, dup), (2, dup)])
        bench = self._rel(spark, [(100, "different benchmark item text")])
        assert fuzzy_contamination(train, bench, threshold=0.1).count() == 0

    def test_exact_copy_scores_one(self, spark):
        from corpus_lab.operators.text_dedup import fuzzy_contamination
        t = "alpha beta gamma delta epsilon"
        train = self._rel(spark, [(1, t)])
        bench = self._rel(spark, [(100, t)])
        rows = fuzzy_contamination(train, bench, threshold=0.9).collect()
        assert [(r["train_id"], r["bench_id"], r["jaccard"])
                for r in rows] == [(1, 100, 1.0)]

    def test_budget_guard_trips_on_cross_census(self, spark):
        import pytest
        from corpus_lab.operators.text_dedup import fuzzy_contamination
        t = "hot boiler plate words"
        train = self._rel(spark, [(i, t) for i in range(10)])
        bench = self._rel(spark, [(100 + i, t) for i in range(10)])
        with pytest.raises(ValueError, match="candidate pairs"):
            fuzzy_contamination(train, bench, max_candidate_pairs=5)

    def test_no_nested_loop_join(self, spark):
        from corpus_lab.operators.text_dedup import fuzzy_contamination
        train = self._rel(spark, [(1, "a b c d")])
        bench = self._rel(spark, [(100, "a b c e")])
        plan = fuzzy_contamination(train, bench)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
