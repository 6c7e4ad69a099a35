"""Structural tests (beyond oracle parity) for the corpus-quality
operators: Gopher repetition stats, ExactSubstr-lite chunk dedup,
benchmark decontamination, and deterministic stratified sampling."""

from pyspark.sql import functions as F

from corpus_lab.operators.text_analysis import (
    repetition_stats,
    stratified_sample,
)
from corpus_lab.operators.text_dedup import (
    contamination_check,
    dedup_chunks,
)


class TestRepetitionStats:
    def test_hand_computed_bigram_fractions(self, spark):
        # "a b a b a": bigrams = [a b, b a, a b, b a] -> every gram dup,
        # top gram "a b" has 2 of 4
        d = spark.createDataFrame(
            [(1, "a b a b a"), (2, "x y z w")], "doc_id long, text string")
        rows = {r["doc_id"]: r for r in repetition_stats(d).collect()}
        assert rows[1]["n_grams"] == 4
        assert rows[1]["top_gram_frac"] == 0.5
        assert rows[1]["dup_gram_frac"] == 1.0
        # all-distinct doc: top = 1/3, dup = 0
        assert rows[2]["n_grams"] == 3
        assert abs(rows[2]["top_gram_frac"] - 1 / 3) < 1e-12
        assert rows[2]["dup_gram_frac"] == 0.0

    def test_short_docs_excluded(self, spark):
        d = spark.createDataFrame(
            [(1, "one"), (2, ""), (3, None), (4, "a b")],
            "doc_id long, text string")
        got = {r["doc_id"] for r in repetition_stats(d).collect()}
        assert got == {4}


class TestChunkDedup:
    def test_first_occurrence_wins_and_text_rebuilds_in_order(self, spark):
        # chunk size 2: doc 1 = [a b][c d], doc 2 = [c d][e f],
        # doc 3 = [a b] only -> doc 2 keeps "e f", doc 3 vanishes
        d = spark.createDataFrame(
            [(1, "a b c d"), (2, "c d e f"), (3, "a b")],
            "doc_id long, text string")
        got = {r["doc_id"]: r["clean_text"]
               for r in dedup_chunks(d, chunk_words=2).collect()}
        assert got == {1: "a b c d", 2: "e f"}

    def test_within_doc_repeats_also_collapse(self, spark):
        d = spark.createDataFrame(
            [(1, "a b a b a b c d")], "doc_id long, text string")
        got = dedup_chunks(d, chunk_words=2).collect()
        assert got[0]["clean_text"] == "a b c d"

    def test_ordering_is_by_doc_then_pos(self, spark):
        # the duplicate chunk appears at pos 1 of doc 1 and pos 0 of
        # doc 5: doc order beats position order
        d = spark.createDataFrame(
            [(5, "z z q q"), (1, "m m z z")], "doc_id long, text string")
        got = {r["doc_id"]: r["clean_text"]
               for r in dedup_chunks(d, chunk_words=2).collect()}
        assert got == {1: "m m z z", 5: "q q"}

    def test_plan_has_no_window_exchange(self, spark):
        """First-occurrence selection must be a partial-aggregating
        groupBy (hot chunks combine map-side), never a sorted window
        over every occurrence."""
        d = spark.createDataFrame(
            [(1, "a b c d")], "doc_id long, text string")
        plan = dedup_chunks(d)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "partial_min" in plan or "partial" in plan.lower()


class TestContamination:
    def test_shared_8gram_flags_training_doc(self, spark):
        bench_text = "alpha beta gamma delta epsilon zeta eta theta iota"
        train = spark.createDataFrame(
            [(1, "x " + bench_text),          # contains a bench 8-gram
             (2, "totally different words with no overlap at all here")],
            "doc_id long, text string")
        bench = spark.createDataFrame(
            [(100, bench_text)], "doc_id long, text string")
        got = {r["doc_id"]: r["n_shared"]
               for r in contamination_check(train, bench).collect()}
        # bench has 2 8-grams (words 1-8, 2-9); train doc 1 contains both
        assert got == {1: 2}

    def test_n_shared_counts_distinct_grams(self, spark):
        text = "w1 w2 w3 w4 w5 w6 w7 w8"
        train = spark.createDataFrame(
            [(1, text + " " + text)], "doc_id long, text string")
        bench = spark.createDataFrame(
            [(100, text)], "doc_id long, text string")
        got = contamination_check(train, bench).collect()
        # the repeated copy adds occurrences, not distinct shared grams:
        # bench's single 8-gram is shared once
        assert [(r["doc_id"], r["n_shared"]) for r in got] == [(1, 1)]


class TestStratifiedSample:
    def test_rate_one_keeps_all_rate_zero_drops_all(self, spark):
        d = spark.createDataFrame(
            [(i, "g0" if i % 2 == 0 else "g1") for i in range(200)],
            "doc_id long, source string")
        kept = stratified_sample(
            d, "source", {"g0": 1.0, "g1": 0.0}, default_rate=0.5).collect()
        assert {r["source"] for r in kept} == {"g0"}
        assert len(kept) == 100

    def test_deterministic_under_repartition(self, spark):
        d = spark.createDataFrame(
            [(i, "g") for i in range(500)], "doc_id long, source string")
        a = {r["doc_id"] for r in stratified_sample(
            d, "source", {"g": 0.3}).collect()}
        b = {r["doc_id"] for r in stratified_sample(
            d.repartition(13), "source", {"g": 0.3}).collect()}
        assert a == b
        # roughly the asked-for rate on a uniform draw
        assert 100 <= len(a) <= 200

    def test_higher_rate_is_superset(self, spark):
        """Raising a group's rate must only ADD documents (stable mix
        growth), never reshuffle membership — the property rand() lacks."""
        d = spark.createDataFrame(
            [(i, "g") for i in range(500)], "doc_id long, source string")
        lo = {r["doc_id"] for r in stratified_sample(
            d, "source", {"g": 0.2}).collect()}
        hi = {r["doc_id"] for r in stratified_sample(
            d, "source", {"g": 0.6}).collect()}
        assert lo < hi


def test_frequent_ngrams_counts(spark):
    from corpus_lab.operators.text_analysis import frequent_ngrams
    docs = spark.createDataFrame([
        (1, "accept all cookies to continue reading"),
        (2, "please accept all cookies now"),
        (3, "breaking news story accept all cookies"),
        (4, "totally unrelated text here"),
    ], ["doc_id", "text"])
    out = {r["ngram"]: (r["n_docs"], r["n_occurrences"])
           for r in frequent_ngrams(docs, n=3, min_docs=2).collect()}
    assert out["accept all cookies"] == (3, 3)
    # nothing below the doc threshold leaks through
    assert all(v[0] >= 2 for v in out.values())
    assert "totally unrelated text" not in out


def test_frequent_ngrams_within_doc_repetition(spark):
    from corpus_lab.operators.text_analysis import frequent_ngrams
    docs = spark.createDataFrame([
        (1, "ha ha ha ha"),
        (2, "ha ha zz"),
    ], ["doc_id", "text"])
    out = {r["ngram"]: (r["n_docs"], r["n_occurrences"])
           for r in frequent_ngrams(docs, n=2, min_docs=2).collect()}
    assert out["ha ha"] == (2, 4)  # 3 occurrences in doc1 + 1 in doc2


# --------------------------------------------------- temperature_sample

class TestTemperatureSample:
    def _df(self, spark):
        # three groups with very different sizes: 400 / 100 / 20
        rows = ([(i, "big") for i in range(400)]
                + [(400 + i, "mid") for i in range(100)]
                + [(500 + i, "small") for i in range(20)])
        return spark.createDataFrame(rows, "doc_id long, source string") \
                    .repartition(7)

    def test_alpha_one_keeps_everything(self, spark):
        from corpus_lab.operators.text_analysis import temperature_sample
        df = self._df(spark)
        assert temperature_sample(df, alpha=1.0).count() == df.count()

    def test_smallest_group_always_kept_in_full(self, spark):
        from corpus_lab.operators.text_analysis import temperature_sample
        df = self._df(spark)
        out = temperature_sample(df, alpha=0.3)
        assert out.filter(F.col("source") == "small").count() == 20

    def test_flattens_toward_equal_counts_as_alpha_drops(self, spark):
        from corpus_lab.operators.text_analysis import temperature_sample
        df = self._df(spark)
        kept = {a: {r["source"]: r["n"] for r in
                    temperature_sample(df, alpha=a).groupBy("source")
                    .agg(F.count("*").alias("n")).collect()}
                for a in (0.0, 0.5, 1.0)}
        # alpha=0: expected n_min per group; the md5 draw is uniform so
        # allow generous slack around 20 for the big groups
        assert kept[0.0]["big"] < 45 and kept[0.0]["mid"] < 45
        # monotone: lower temperature keeps fewer of the dominant group
        assert kept[0.0]["big"] <= kept[0.5]["big"] <= kept[1.0]["big"]

    def test_deterministic_under_repartition(self, spark):
        from corpus_lab.operators.text_analysis import temperature_sample
        df = self._df(spark)
        a = {r["doc_id"] for r in temperature_sample(df, alpha=0.4).collect()}
        b = {r["doc_id"] for r in
             temperature_sample(df.repartition(23), alpha=0.4).collect()}
        assert a == b

    def test_rates_join_is_broadcast(self, spark):
        from corpus_lab.operators.text_analysis import temperature_sample
        plan = temperature_sample(self._df(spark), alpha=0.5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------ top_k_per_group

class TestTopKPerGroup:
    def test_keeps_k_best_with_id_tiebreak(self, spark):
        from corpus_lab.operators.text_analysis import top_k_per_group
        rows = [(1, "en", 0.9), (2, "en", 0.9), (3, "en", 0.5),
                (4, "de", 0.7), (5, "de", 0.1)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, q double")
        out = {(r["lang"], r["doc_id"], r["rank"])
               for r in top_k_per_group(df, "lang", "q", k=2).collect()}
        assert out == {("en", 1, 1), ("en", 2, 2), ("de", 4, 1), ("de", 5, 2)}

    def test_plan_uses_window_group_limit(self, spark):
        from corpus_lab.operators.text_analysis import top_k_per_group
        df = spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i)) for i in range(50)],
            "doc_id long, lang string, q double")
        plan = top_k_per_group(df, "lang", "q", k=5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan


class TestTemperatureSampleNullGroup:
    def test_null_group_rows_are_sampled_not_dropped(self, spark):
        from corpus_lab.operators.text_analysis import temperature_sample
        rows = ([(i, "big") for i in range(200)]
                + [(1000 + i, None) for i in range(40)])
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = temperature_sample(df, alpha=1.0)
        # alpha=1 keeps EVERY row, including the null-source group
        assert out.count() == 240
        assert out.filter(F.col("source").isNull()).count() == 40
        # and at low alpha the null group participates as a real group
        low = temperature_sample(df, alpha=0.0)
        assert low.filter(F.col("source").isNull()).count() == 40  # n_min


class TestPiiExtended:
    def test_iban_redacted_before_phone_sees_its_digits(self, spark):
        """An IBAN's digit body must land in n_iban, NOT leak a phone
        match — the ordering contract PII_PATTERNS_EXTENDED documents."""
        from corpus_lab.operators.text_analysis import (
            PII_PATTERNS_EXTENDED, redact_pii,
        )

        df = spark.createDataFrame(
            [(1, "pay DE44500105175407324931 today"),
             (2, "peer fe80:0:0:0:0:21:fe21:67cf and 10.0.3.7"),
             (3, "mail a.b@ex.org or call +1 555-0123-456")],
            "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               redact_pii(df, patterns=PII_PATTERNS_EXTENDED).collect()}
        assert out[1]["n_iban"] == 1 and out[1]["n_phone"] == 0
        assert out[1]["clean_text"] == "pay <IBAN> today"
        assert out[2]["n_ipv6"] == 1 and out[2]["n_ipv4"] == 1
        assert out[2]["clean_text"] == "peer <IPV6> and <IPV4>"
        assert out[3]["n_email"] == 1 and out[3]["n_phone"] == 1
        assert out[3]["clean_text"] == "mail <EMAIL> or call <PHONE>"

    def test_default_patterns_unchanged(self, spark):
        from corpus_lab.operators.text_analysis import redact_pii

        df = spark.createDataFrame([(1, "x a@b.io 1.2.3.4")],
                                   "doc_id int, text string")
        row = redact_pii(df).collect()[0]
        assert row["clean_text"] == "x <EMAIL> <IPV4>"
        assert "n_iban" not in row.asDict()


class TestC4LineFilter:
    def test_rules_applied_per_line_and_per_doc(self, spark):
        from corpus_lab.operators.text_analysis import c4_line_filter

        df = spark.createDataFrame([
            (1, 'one two three four five six ends here.\nshort.\n'
                'no punctuation at all here but long enough\n'
                'a quoted "line" ends well?'),
            (2, 'this document mentions lorem ipsum somewhere fine.\nx.'),
            (3, 'function() { return 1; } is code with many words here.'),
            (4, 'tiny'),
        ], "doc_id int, text string")
        out = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
        assert set(out) == {1}  # 2=lorem, 3=curly, 4=no keepable line
        r = out[1]
        assert r["n_lines"] == 4 and r["n_kept"] == 2
        assert r["clean_text"] == (
            'one two three four five six ends here.\n'
            'a quoted "line" ends well?')

    def test_min_words_knob(self, spark):
        from corpus_lab.operators.text_analysis import c4_line_filter

        df = spark.createDataFrame([(1, "just four words here.")],
                                   "doc_id int, text string")
        assert c4_line_filter(df).count() == 0
        assert c4_line_filter(df, min_words=4).count() == 1


class TestGroupSplit:
    def test_one_split_per_group(self, spark):
        from corpus_lab.operators.text_analysis import assign_group_split
        rows = [(i, f"src{i % 7}", i * 10) for i in range(100)]
        d = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
        out = assign_group_split(d, group_col="source")
        per_group = (out.groupBy("source")
                     .agg({"split": "count"})
                     .count())
        distinct_pairs = out.select("source", "split").distinct().count()
        assert distinct_pairs == per_group == 7

    def test_assignment_is_content_stable(self, spark):
        """Same group -> same split regardless of row order, partitioning,
        or which other rows exist (corpus growth never moves a domain)."""
        from corpus_lab.operators.text_analysis import assign_group_split
        rows = [(i, f"src{i % 7}", 0) for i in range(100)]
        d = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
        full = {r["source"]: r["split"]
                for r in assign_group_split(d).select("source", "split")
                .distinct().collect()}
        subset = {r["source"]: r["split"]
                  for r in assign_group_split(
                      d.filter("doc_id < 20").repartition(9))
                  .select("source", "split").distinct().collect()}
        for k, v in subset.items():
            assert full[k] == v

    def test_null_group_goes_to_train(self, spark):
        from corpus_lab.operators.text_analysis import assign_group_split
        d = spark.createDataFrame([(0, None, 0)],
                                  "doc_id long, source string, n_chars long")
        assert assign_group_split(d).collect()[0]["split"] == "train"

    def test_matches_doc_split_thresholds(self, spark):
        """Shares the md5_draw32 carve with assign_split: hashing the
        same VALUE yields the same split for the same salt."""
        from corpus_lab.operators.text_analysis import (
            assign_group_split, assign_split)
        rows = [(i, str(i), 0) for i in range(50)]
        d = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
        by_group = {r["source"]: r["split"]
                    for r in assign_group_split(d, salt="s1").collect()}
        by_doc = {str(r["doc_id"]): r["split"]
                  for r in assign_split(d, id_col="doc_id", salt="s1").collect()}
        assert by_group == by_doc
