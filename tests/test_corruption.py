"""Span-corruption masks (operators/corruption.py) vs a sequential
Python reference: draw arithmetic, clipping, adjacency merge, island
numbering, corruption-rate band, determinism."""

import hashlib

import pytest

from corpus_lab.operators.corruption import corruption_spans


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _draw(salt, doc, p):
    h = hashlib.md5(f"{salt}:{doc}:{p}".encode()).hexdigest()
    return int(h[:15], 16)


def _ref(rows, span_len=3, den=20, salt="t5-v1"):
    out = []
    for doc_id, text in rows:
        if text is None or not text.strip():
            continue
        n = len(text.strip().split())
        spans = []
        for p in range(1, n + 1):
            if _draw(salt, doc_id, p) % den == 0:
                s, e = p, min(p + span_len - 1, n)
                if spans and s <= spans[-1][1] + 1:
                    spans[-1] = (spans[-1][0], max(spans[-1][1], e))
                else:
                    spans.append((s, e))
        for i, (s, e) in enumerate(spans, 1):
            out.append((doc_id, i, s, e, e - s + 1))
    return sorted(out)


def _mk_rows(n_docs, n_words):
    return [(i, " ".join(f"w{j}" for j in range(n_words)))
            for i in range(n_docs)]


def test_matches_reference(spark):
    rows = _mk_rows(30, 120)
    got = sorted(tuple(r) for r in corruption_spans(
        _df(spark, rows)).collect())
    ref = _ref(rows)
    assert got == ref
    assert ref  # 30x120 positions at 1/20: plenty of spans


def test_spans_disjoint_nonadjacent_ordered(spark):
    rows = _mk_rows(20, 200)
    by_doc = {}
    for r in corruption_spans(_df(spark, rows)).collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_idx"], r["span_start"], r["span_end"]))
    for doc, spans in by_doc.items():
        spans.sort()
        assert [i for i, _, _ in spans] == list(range(1, len(spans) + 1))
        for (_, _, e1), (_, s2, _) in zip(spans, spans[1:]):
            assert s2 > e1 + 1  # merged islands are never adjacent


def test_clipping_at_document_end(spark):
    rows = _mk_rows(200, 7)  # short docs: end-clipping is common
    got = corruption_spans(_df(spark, rows)).collect()
    assert all(r["span_end"] <= 7 for r in got)
    assert got == sorted(got, key=lambda r: (r["doc_id"], r["span_idx"])) \
        or True  # order free; values checked against reference below
    assert sorted(tuple(r) for r in got) == _ref(rows)


def test_corruption_rate_near_target(spark):
    rows = _mk_rows(50, 400)  # 20k positions
    got = corruption_spans(_df(spark, rows)).collect()
    masked = sum(r["n_masked"] for r in got)
    rate = masked / (50 * 400)
    # target span_len/den = 15%, merges eat a little
    assert 0.10 < rate < 0.17


def test_determinism_under_repartition(spark):
    rows = _mk_rows(40, 90)
    a = sorted(tuple(r) for r in corruption_spans(
        _df(spark, rows)).collect())
    b = sorted(tuple(r) for r in corruption_spans(
        _df(spark, rows).repartition(17)).collect())
    assert a == b


def test_empty_and_null_docs(spark):
    rows = [(1, None), (2, ""), (3, "   "), (4, "one two three")]
    got = corruption_spans(_df(spark, rows)).collect()
    assert all(r["doc_id"] == 4 for r in got)


def test_validation(spark):
    with pytest.raises(ValueError):
        corruption_spans(_df(spark, _mk_rows(1, 5)), span_len=0)
    with pytest.raises(ValueError):
        corruption_spans(_df(spark, _mk_rows(1, 5)), den=1)


# ------------------------------------------------- FIM splits

def _fim_ref(rows, salt="fim-v1"):
    out = []
    for doc_id, text in rows:
        if text is None or not text.strip():
            continue
        n = len(text.strip().split())

        def dr(tag):
            h = hashlib.md5(f"{salt}:{tag}:{doc_id}".encode()).hexdigest()
            return int(h[:15], 16)
        d1, d2 = dr("c1") % (n + 1), dr("c2") % (n + 1)
        c1, c2 = min(d1, d2), max(d1, d2)
        mode = "psm" if dr("m") % 2 == 0 else "spm"
        out.append((doc_id, n, c1, c2, mode, c1, c2 - c1, n - c2))
    return sorted(out)


def test_fim_matches_reference(spark):
    from corpus_lab.operators.corruption import fim_splits
    rows = _mk_rows(60, 50) + [(1000, "one"), (1001, None), (1002, "  ")]
    got = sorted(tuple(r) for r in fim_splits(_df(spark, rows)).collect())
    assert got == _fim_ref(rows)
    assert len(got) == 61  # 60 + the one-word doc; null/blank dropped


def test_fim_segments_partition_document(spark):
    from corpus_lab.operators.corruption import fim_splits
    rows = _mk_rows(80, 33)
    modes = set()
    for r in fim_splits(_df(spark, rows)).collect():
        assert r["len_prefix"] + r["len_middle"] + r["len_suffix"] \
            == r["n_tokens"]
        assert 0 <= r["cut1"] <= r["cut2"] <= r["n_tokens"]
        assert all(x >= 0 for x in
                   (r["len_prefix"], r["len_middle"], r["len_suffix"]))
        modes.add(r["mode"])
    assert modes == {"psm", "spm"}  # both orders occur in 80 draws
