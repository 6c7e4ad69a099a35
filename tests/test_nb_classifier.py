"""Multinomial Naive Bayes train + score: separability, multinomial
repeat-counting, prior behaviour, plan shape."""

from pyspark.sql import functions as F

from corpus_lab.operators.nb_classifier import nb_score, nb_train


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, y boolean")


def _fit_score(spark, rows):
    d = _docs(spark, rows)
    model = nb_train(d, "y")
    return model, {r["doc_id"]: r for r in nb_score(d, model).collect()}


def test_separable_corpus_classified_correctly(spark):
    rows = [
        (1, "good fine nice good", True),
        (2, "fine nice good great", True),
        (3, "bad awful bad poor", False),
        (4, "poor awful bad sad", False),
    ]
    _, got = _fit_score(spark, rows)
    assert got[1]["predicted"] and got[2]["predicted"]
    assert not got[3]["predicted"] and not got[4]["predicted"]
    assert got[1]["log_odds"] > 0 > got[3]["log_odds"]


def test_repeated_tokens_count_multinomially(spark):
    rows = [
        (1, "up", True), (2, "down", False),
        (10, "up up up", True), (11, "up", True),
    ]
    _, got = _fit_score(spark, rows)
    # three occurrences of the positive word beat one
    assert got[10]["log_odds"] > got[11]["log_odds"] > 0


def test_model_counts_and_unseen_token_scoring(spark):
    d = _docs(spark, [(1, "a a b", True), (2, "b c", False)])
    model = nb_train(d, "y")
    stats = {r["token"]: (r["c_pos"], r["c_neg"])
             for r in model.token_stats.collect()}
    assert stats == {"a": (2, 0), "b": (1, 1), "c": (0, 1)}
    assert (model.n_pos_tokens, model.n_neg_tokens,
            model.vocab_size) == (3, 2, 3)
    assert (model.n_pos_docs, model.n_neg_docs) == (1, 1)
    # a doc of only-unseen tokens still scores (smoothed denominators)
    unseen = spark.createDataFrame([(9, "zzz qqq")], "doc_id long, text string")
    row = nb_score(unseen, model).collect()[0]
    assert row["n_tokens"] == 2 and row["log_odds"] is not None


def test_empty_and_whitespace_docs_drop_out(spark):
    d = _docs(spark, [(1, "x", True), (2, "   ", False)])
    model = nb_train(d, "y")
    ids = {r["doc_id"] for r in nb_score(d, model).collect()}
    assert ids == {1}


def test_no_nested_loop_join(spark):
    d = _docs(spark, [(1, "a b", True), (2, "b c", False)])
    model = nb_train(d, "y")
    plan = nb_score(d, model)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
