"""Distributed Lloyd k-means (operators/clustering.py)."""

from pyspark.sql import functions as F

from corpus_lab.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    kmeans_predict,
    pinned_init,
)

# three well-separated 4-d blobs (+ one deterministic jitter per point)
BLOBS = {0: [10.0, 0.0, 0.0, 0.0],
         1: [0.0, 10.0, 0.0, 0.0],
         2: [0.0, 0.0, 10.0, 0.0]}


def _blob_df(spark, per_blob=20):
    rows = []
    vid = 0
    for label, c in BLOBS.items():
        for j in range(per_blob):
            jitter = ((j % 5) - 2) * 0.1
            rows.append((vid, label, [c[0] + jitter, c[1] - jitter,
                                      c[2] + 0.05 * (j % 3), c[3]]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "label", "embedding"])


def test_kmeans_recovers_separated_blobs(spark):
    df = _blob_df(spark)
    init = [(j, BLOBS[j][:2] + [0.0, 0.0]) for j in range(3)]  # off-center
    centroids = kmeans_fit(df, k=3, iters=2, init=init)
    assert [c[0] for c in centroids] == [0, 1, 2]
    for cid, coords in centroids:
        # converged centroid sits on its blob's center (jitter means ~0)
        assert abs(coords[cid] - 10.0) < 0.2, (cid, coords)
    assigned = assign_clusters(df, centroids)
    joined = df.join(assigned, "vec_id")
    assert joined.filter(F.col("label") != F.col("cluster")).count() == 0


def test_kmeans_empty_cluster_drops_out(spark):
    df = _blob_df(spark)
    init = [(0, BLOBS[0]), (1, BLOBS[1]), (2, BLOBS[2]),
            (9, [1000.0, 1000.0, 1000.0, 1000.0])]  # captures nothing
    centroids = kmeans_fit(df, k=4, iters=1, init=init)
    assert [c[0] for c in centroids] == [0, 1, 2]


def test_kmeans_predict_deterministic(spark):
    emb = _blob_df(spark).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("float"))
        .alias("embedding"))
    a = sorted(map(tuple, kmeans_predict(emb, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_predict(emb, k=4, iters=2).collect()))
    assert a == b
    assert len(a) == 60
    clusters = {r[1] for r in a}
    assert clusters <= set(range(4)) and len(clusters) >= 2


def test_pinned_init_matches_similarity_constants(spark):
    import numpy as np
    from corpus_lab.operators.similarity import pinned_centroids
    init = pinned_init(8, k=4)
    ref = pinned_centroids(8, n_cells=4)
    assert [c[0] for c in init] == [0, 1, 2, 3]
    assert np.allclose(np.array([c[1] for c in init]), ref)


def test_kmeans_fit_empty_input_raises_clearly(spark):
    import pytest
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)
    empty = spark.createDataFrame([], StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType()))]))
    with pytest.raises(ValueError, match="pass init= explicitly"):
        kmeans_fit(empty, k=2, iters=1)
    null_first = spark.createDataFrame([(1, None)], StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType()))]))
    with pytest.raises(ValueError, match="non-null vector"):
        kmeans_fit(null_first, k=2, iters=1)
