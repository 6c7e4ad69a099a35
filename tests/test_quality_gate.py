"""Fused one-pass quality gate: reason attribution order + filtering."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.quality_gate import (
    GATE_RULES, gate_reason_counts, quality_gate)

GOOD = ("The quick brown fox jumps over the lazy dog and runs to the "
        "river where it drinks the cold water of the morning.")


def _gate(spark, rows, **kw):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return {r.doc_id: r.reject_reason
            for r in quality_gate(df, keep_rejects=True, **kw).collect()}


def test_reason_attribution(spark):
    reasons = _gate(spark, [
        (1, GOOD),
        (2, "too short"),
        (3, "this line mentions lorem ipsum and the rest is fine text ok"),
        (4, "the code block { return with many of the braces in the text }"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (6, ("the dog " * 40).strip()),
    ])
    assert reasons[1] == "pass"
    assert reasons[2] == "too_short"
    assert reasons[3] == "lorem_ipsum"
    assert reasons[4] == "code_brace"
    assert reasons[5] == "no_stopwords"
    assert reasons[6] == "repetitive"
    assert set(reasons.values()) <= set(GATE_RULES) | {"pass"}


def test_first_failing_rule_wins(spark):
    # short AND contains a brace: too_short is earlier in audit order
    reasons = _gate(spark, [(1, "{ short }")])
    assert reasons[1] == "too_short"


def test_default_mode_drops_rejects(spark):
    df = spark.createDataFrame([(1, GOOD), (2, "nope")], ["doc_id", "text"])
    out = quality_gate(df)
    assert [r.doc_id for r in out.collect()] == [1]
    assert "reject_reason" in out.columns  # forwarded for lineage


def test_reason_counts_shares_sum_to_one(spark):
    df = spark.createDataFrame(
        [(1, GOOD), (2, "x"), (3, "y z"), (4, GOOD)], ["doc_id", "text"])
    hist = gate_reason_counts(quality_gate(df, keep_rejects=True))
    rows = hist.collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-6
    assert sum(r.n_docs for r in rows) == 4


def test_single_stage_no_shuffle(spark):
    df = spark.createDataFrame([(1, GOOD)], ["doc_id", "text"])
    plan = quality_gate(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one projection over the scan
