"""Sentence segmentation: offset round-trip against the original
string, abbreviation guard, opener gate, blank-segment numbering."""

from pyspark.sql import functions as F

from corpus_lab.operators.sentences import split_sentences

ROWS = [
    (0, "Hello there. Dr. Smith went home. The end!"),
    (1, "One sentence only"),
    (2, "Numbers next. 42 is the answer. done? lowercase blocks"),
    (3, "Abbrev guard: see fig. 3 and e.g. This starts fresh."),
    (4, "Trailing terminator stays. "),
    (5, ""),
    (6, None),
    (7, "A.. Double dots! Then?? More"),
]


def _df(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def _by_doc(spark):
    out = {}
    for r in split_sentences(_df(spark)).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["sent_id"], r["start_off"], r["sentence"]))
    return {k: sorted(v) for k, v in out.items()}


def test_offsets_round_trip_exactly(spark):
    texts = dict((d, t) for d, t in ROWS if t)
    for doc_id, sents in _by_doc(spark).items():
        for _, off, sent in sents:
            assert texts[doc_id][off:off + len(sent)] == sent


def test_basic_split_and_abbreviation_guard(spark):
    by = _by_doc(spark)
    assert [s for _, _, s in by[0]] == [
        "Hello there.", "Dr. Smith went home.", "The end!"]
    # 'fig.' and 'e.g.' suppressed -> the only cut is after 'e.g.'? No:
    # 'e.g.' ends in the guard list, so NO cut before 'This' either —
    # the whole line is one sentence.
    assert [s for _, _, s in by[3]] == [
        "Abbrev guard: see fig. 3 and e.g. This starts fresh."]


def test_opener_gate_blocks_lowercase_continuations(spark):
    by = _by_doc(spark)
    # 'done? lowercase' must NOT split ('l' is not an opener); '42' must.
    assert [s for _, _, s in by[2]] == [
        "Numbers next.", "42 is the answer. done? lowercase blocks"]


def test_empty_null_and_trailing_cases(spark):
    by = _by_doc(spark)
    assert 5 not in by and 6 not in by
    # trailing ". " tail segment is whitespace-only and dropped, but the
    # terminator stays with its sentence
    assert [s for _, _, s in by[4]] == ["Trailing terminator stays. "] or \
           [s for _, _, s in by[4]] == ["Trailing terminator stays."]


def test_sent_ids_stable_under_blank_filtering(spark):
    """sent_id numbers ALL segments (pre-filter), so surviving ids can
    skip values but never collide or reorder."""
    for sents in _by_doc(spark).values():
        ids = [i for i, _, _ in sents]
        assert len(ids) == len(set(ids))
        offs = [o for _, o, _ in sents]
        assert offs == sorted(offs)
        assert ids == sorted(ids)


def test_double_terminators(spark):
    by = _by_doc(spark)
    # 'A..' -> boundary at the second dot; '!?' runs end where the
    # single-char rule fires (char + space + opener)
    sents = [s for _, _, s in by[7]]
    assert sents == ["A..", "Double dots!", "Then??", "More"]


def test_shuffle_free_plan(spark):
    plan = split_sentences(_df(spark)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
