"""SemDedup (cluster-then-sweep semantic dedup) and DSIR (hashed n-gram
importance resampling) semantics, beyond the oracle-parity coverage."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.dsir import (
    bucket_log_ratio, dsir_select, dsir_weights, hashed_feature_counts,
)
from corpus_lab.operators.semdedup import semdedup, with_centroid_cos
from corpus_lab.operators.similarity import pinned_centroids


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")


def test_semdedup_flags_the_lower_ranked_twin(spark):
    cents = pinned_centroids(4, 2)
    vecs = [[1.0, 0.0, 0.0, 0.0],
            [0.99, 0.01, 0.0, 0.0],   # ~0.9999 cosine with vec 0
            [0.0, 1.0, 0.0, 0.0]]
    out = {r["vec_id"]: r for r in
           semdedup(_emb_df(spark, vecs), cents, eps=0.95).collect()}
    assert len(out) == 3
    assert out[2]["keep"] is True  # no near twin
    twins = [out[0], out[1]]
    assert sorted(t["keep"] for t in twins) == [False, True]
    # the paper keeps the member ranked first (higher centroid cosine)
    x = np.asarray(vecs, dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cells = np.argmax(xn @ cents.T, axis=1)
    assert cells[0] == cells[1], "test premise: twins share a cell"
    cos = (x @ cents[cells[0]]) / np.linalg.norm(x, axis=1)
    kept_twin = 0 if cos[0] > cos[1] else 1
    assert out[kept_twin]["keep"] is True


def test_semdedup_zero_vector_is_kept_with_zero_cos(spark):
    cents = pinned_centroids(4, 2)
    vecs = [[0.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0]]
    out = {r["vec_id"]: r for r in
           semdedup(_emb_df(spark, vecs), cents, eps=0.5).collect()}
    assert out[0]["keep"] is True and out[0]["cent_cos"] == 0.0


def test_semdedup_plan_is_equi_join_not_nested_loop(spark):
    df = _emb_df(spark, np.eye(4).tolist())
    p = semdedup(df, pinned_centroids(4, 2))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_centroid_cos_indexes_own_cell(spark):
    cents = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    df = spark.createDataFrame([(0, [2.0, 0.0], 0), (1, [0.0, 3.0], 1)],
                               "vec_id long, embedding array<double>, cell int")
    got = {r["vec_id"]: r["cent_cos"] for r in
           with_centroid_cos(df, cents).collect()}
    assert got[0] == pytest.approx(1.0) and got[1] == pytest.approx(1.0)


def _docs_df(spark, texts, langs=None):
    langs = langs or ["en"] * len(texts)
    return spark.createDataFrame(
        list(zip(range(len(texts)), texts, langs)),
        "doc_id long, text string, lang string")


def test_hashed_feature_counts_unigrams_plus_bigrams(spark):
    d = _docs_df(spark, ["a b", "solo", ""])
    got = (hashed_feature_counts(d, n_buckets=64)
           .groupBy("doc_id").agg(F.sum("n").alias("n")).collect())
    by_id = {r["doc_id"]: r["n"] for r in got}
    assert by_id[0] == 3       # 'a', 'b', 'a b'
    assert by_id[1] == 1       # 'solo'
    assert 2 not in by_id      # empty text yields no features


def test_dsir_weights_prefer_target_like_docs(spark):
    # target speaks only of cats; raw doc 0 is cat-like, doc 1 is not
    target = _docs_df(spark, ["cat cat likes cat"] * 4)
    raw = _docs_df(spark, ["the cat likes cat food",
                           "quarterly revenue guidance rose sharply"])
    tc = hashed_feature_counts(target, n_buckets=128)
    rc = hashed_feature_counts(raw, n_buckets=128)
    lr = bucket_log_ratio(tc, rc, n_buckets=128)
    w = {r["doc_id"]: r["weight"]
         for r in dsir_weights(rc, lr).collect()}
    assert w[0] > w[1]


def test_dsir_select_is_deterministic_and_k_bounded(spark):
    d = _docs_df(spark, [f"tok{i} tok{i+1} common words" for i in range(20)])
    rc = hashed_feature_counts(d, n_buckets=64)
    lr = bucket_log_ratio(rc, rc, n_buckets=64)  # p == q -> weights ~ 0
    w = dsir_weights(rc, lr)
    a = [r["doc_id"] for r in dsir_select(w, k=5).collect()]
    b = [r["doc_id"] for r in dsir_select(w, k=5).collect()]
    assert a == b and len(a) == 5
    # identical distributions: every weight folds to ~0
    assert all(abs(r["weight"]) < 1e-9 for r in dsir_select(w, 20).collect())


def test_dsir_salt_changes_the_draw_not_the_weights(spark):
    d = _docs_df(spark, [f"alpha beta gamma {i}" for i in range(30)])
    rc = hashed_feature_counts(d, n_buckets=64)
    lr = bucket_log_ratio(rc, rc, n_buckets=64)
    w = dsir_weights(rc, lr)
    s1 = {r["doc_id"] for r in dsir_select(w, 10, salt="s1").collect()}
    s2 = {r["doc_id"] for r in dsir_select(w, 10, salt="s2").collect()}
    assert s1 != s2  # re-rolled selection


def test_pandas_route_matches_fold_route(spark):
    from corpus_lab.operators.semdedup import semdedup_pandas
    from corpus_lab.sources.synth_dist import embeddings_df_distributed

    emb = embeddings_df_distributed(spark, 400, seed=7, dup_every=20,
                                    num_partitions=4)
    cents = pinned_centroids(64, 8)
    slow = {r["vec_id"]: r for r in semdedup(emb, cents, eps=0.9).collect()}
    fast = {r["vec_id"]: r for r in
            semdedup_pandas(emb, cents, eps=0.9).collect()}
    assert set(slow) == set(fast) and len(slow) == 400
    for i in slow:
        assert slow[i]["keep"] == fast[i]["keep"], i
        assert slow[i]["cell"] == fast[i]["cell"], i
        assert slow[i]["cent_cos"] == pytest.approx(fast[i]["cent_cos"],
                                                    abs=1e-5)


def test_planted_twins_are_flagged(spark):
    from corpus_lab.operators.semdedup import semdedup_pandas
    from corpus_lab.sources.synth_dist import embeddings_df_distributed

    emb = embeddings_df_distributed(spark, 500, seed=3, dup_every=50,
                                    num_partitions=4)
    out = semdedup_pandas(emb, pinned_centroids(64, 8), eps=0.99)
    dropped = {r["vec_id"] for r in out.filter("NOT keep").collect()}
    planted = {i for i in range(50, 500, 50)}
    # exactly one of each (i-1, i) twin pair is dropped, nothing else
    assert len(dropped) == len(planted)
    for i in planted:
        assert (i in dropped) != (i - 1 in dropped)


def test_generator_is_partitioning_independent(spark):
    from corpus_lab.sources.synth_dist import embeddings_df_distributed

    a = embeddings_df_distributed(spark, 64, seed=5, num_partitions=2) \
        .orderBy("vec_id").collect()
    b = embeddings_df_distributed(spark, 64, seed=5, num_partitions=7) \
        .orderBy("vec_id").collect()
    assert [r["embedding"] for r in a] == [r["embedding"] for r in b]


def test_dsir_select_empty_target_yields_no_rows_not_arbitrary_ids(spark):
    d = _docs_df(spark, ["alpha beta", "gamma delta"])
    rc = hashed_feature_counts(d, n_buckets=64)
    empty = hashed_feature_counts(_docs_df(spark, []), n_buckets=64)
    lr = bucket_log_ratio(empty, rc, n_buckets=64)
    w = dsir_weights(rc, lr)
    assert dsir_select(w, k=5).count() == 0


def test_pandas_route_supports_string_ids(spark):
    from corpus_lab.operators.semdedup import semdedup_pandas

    df = spark.createDataFrame(
        [(f"doc-{i}", [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id string, embedding array<double>")
    out = semdedup_pandas(df, pinned_centroids(4, 2), eps=0.9,
                          id_col="vec_id").collect()
    assert {r["vec_id"] for r in out} == {f"doc-{i}" for i in range(4)}
