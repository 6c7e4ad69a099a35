"""PR curve / exact ROC-AUC (operators/eval_metrics.py) vs sequential
references: confusion counts, midrank tie handling, degenerate classes,
and agreement with a naive per-row AUC computation."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.eval_metrics import pr_curve, roc_auc


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, score double, label int")


def _pr_py(rows, decimals=3):
    from collections import defaultdict
    grid = defaultdict(lambda: [0, 0])
    for _, s, y in rows:
        q = round(s, decimals)
        grid[q][0] += 1
        grid[q][1] += y
    npos = sum(p for _, p in grid.values())
    out, tp, kept = [], 0, 0
    for thr in sorted(grid, reverse=True):
        n, p = grid[thr]
        tp += p
        kept += n
        fp, fn = kept - tp, npos - tp
        out.append((thr, tp, fp, fn,
                    round(tp / kept, 6), round(tp / npos, 6),
                    round(2.0 * tp / (2 * tp + fp + fn), 6)))
    return sorted(out)


def _auc_py(rows, decimals=3):
    """Naive per-PAIR AUC: P(score_pos > score_neg) + 0.5 P(tie) — the
    definition the midrank U-statistic must equal."""
    pos = [round(s, decimals) for _, s, y in rows if y]
    neg = [round(s, decimals) for _, s, y in rows if not y]
    if not pos or not neg:
        return None
    wins = sum((p > n_) + 0.5 * (p == n_) for p in pos for n_ in neg)
    return round(wins / (len(pos) * len(neg)), 6)


ROWS = [
    (0, 0.91, 1), (1, 0.85, 1), (2, 0.85, 0), (3, 0.70, 1),
    (4, 0.70, 0), (5, 0.70, 0), (6, 0.42, 1), (7, 0.42, 0),
    (8, 0.13, 0), (9, 0.13, 0), (10, 0.9101, 1), (11, 0.9104, 0),
]  # 0.9101/0.9104 quantize INTO 0.91: tie handling must be midrank


def test_pr_curve_matches_reference(spark):
    got = sorted(tuple(r) for r in pr_curve(
        _df(spark, ROWS), "score", "label").collect())
    assert got == _pr_py(ROWS)


def test_pr_curve_endpoints(spark):
    rows = {r["threshold"]: r for r in pr_curve(
        _df(spark, ROWS), "score", "label").collect()}
    top = rows[max(rows)]
    assert top["fn"] + top["tp"] == 5  # npos
    bottom = rows[min(rows)]
    assert bottom["recall"] == 1.0  # lowest threshold keeps everything
    assert bottom["tp"] == 5 and bottom["fp"] == 7


def test_auc_matches_pairwise_definition(spark):
    got = roc_auc(_df(spark, ROWS), "score", "label").collect()[0]
    assert got["npos"] == 5 and got["nneg"] == 7
    assert got["auc"] == pytest.approx(_auc_py(ROWS), abs=1e-9)


def test_auc_perfect_and_inverted_and_random(spark):
    perfect = [(i, 1.0 * (i < 5), 1 if i < 5 else 0) for i in range(10)]
    assert roc_auc(_df(spark, perfect), "score",
                   "label").collect()[0]["auc"] == 1.0
    inverted = [(i, 1.0 * (i >= 5), 1 if i < 5 else 0) for i in range(10)]
    assert roc_auc(_df(spark, inverted), "score",
                   "label").collect()[0]["auc"] == 0.0
    all_tied = [(i, 0.5, i % 2) for i in range(10)]
    assert roc_auc(_df(spark, all_tied), "score",
                   "label").collect()[0]["auc"] == 0.5


def test_auc_degenerate_single_class(spark):
    one_class = [(i, 0.1 * i, 1) for i in range(5)]
    assert roc_auc(_df(spark, one_class), "score",
                   "label").collect()[0]["auc"] is None


@pytest.mark.parametrize("seed", [1, 2])
def test_auc_fuzz_vs_pairwise(spark, seed):
    import random
    rng = random.Random(seed)
    # scores generated ON the 3-decimal grid: quantization is then the
    # identity in both engines (Python round is banker's, Spark's is
    # HALF_UP — off-grid values would bucket differently in the naive
    # reference, a reference artifact, not an operator defect)
    rows = [(i, rng.randrange(0, 1001) / 1000.0, rng.randint(0, 1))
            for i in range(200)]
    got = roc_auc(_df(spark, rows), "score", "label").collect()[0]["auc"]
    assert got == pytest.approx(_auc_py(rows), abs=1e-9)


def test_corpus_stage_is_one_hash_agg(spark):
    # the only corpus-sized stage is the quantized groupBy: the plan has
    # exactly one aggregate pair over the input before the grid windows
    plan = pr_curve(_df(spark, ROWS), "score", "label") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
