"""Distributed deterministic corpora for scale probes: the synthetic
document fixture of news_rss_spark.sources.synth generated per partition
on the executors, and an embedding corpus with planted near duplicates."""

from __future__ import annotations

from news_rss_spark.sources.synth import SPANS_DDL, generate_documents


def _docs_to_arrow(docs: list[dict]):
    import pyarrow as pa

    span_t = pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))
    return pa.RecordBatch.from_arrays(
        [pa.array([d["doc_id"] for d in docs], type=pa.string()),
         pa.array([d["spans"] for d in docs], type=span_t)],
        names=["doc_id", "spans"],
    )


def documents_df_distributed(spark, n_docs: int, seed: int = 42,
                             num_partitions: int = 64,
                             mix: tuple = (0.70, 0.15, 0.15)):
    """Distributed deterministic corpus: partition ``i`` generates its slice
    with rng seed ``(seed, i)`` on the executors — no driver-side row build,
    so bench-scale corpora (10^5-10^6 docs locally, arbitrarily large on a
    cluster) generate in parallel.  Same fixture *shape* as
    ``generate_documents`` but a different (still deterministic) stream."""
    per = n_docs // num_partitions
    rem = n_docs % num_partitions
    specs = [(i, i * per + min(i, rem), per + (1 if i < rem else 0))
             for i in range(num_partitions)]
    # range-partition on the unique part id -> exactly one spec per task
    # (hash repartition would collide ~1/e of the partitions empty)
    spec_df = spark.createDataFrame(specs, "part int, start long, count long") \
                   .repartitionByRange(num_partitions, "part")

    def gen(batches):
        for batch in batches:
            for row in batch.to_pylist():
                docs = generate_documents(row["count"],
                                          seed=seed * 1_000_003 + row["part"],
                                          mix=mix)
                # re-index doc ids into the global range so they stay unique
                for j, d in enumerate(docs):
                    gid = row["start"] + j
                    d["doc_id"] = d["doc_id"].rsplit("-", 1)[0] + f"-{gid}"
                    for s in d["spans"]:
                        if s["kind"] == "meta":
                            import json as _json
                            meta = _json.loads(s["text"])
                            if "link" in meta:
                                meta["link"] = d["doc_id"]
                            s["text"] = _json.dumps(meta, sort_keys=True)
                yield _docs_to_arrow(docs)

    return spec_df.mapInArrow(gen, schema=SPANS_DDL)


def embeddings_df_distributed(spark, n_vecs: int, dim: int = 64,
                              seed: int = 101, dup_every: int = 101,
                              noise: float = 0.01,
                              num_partitions: int | None = None):
    """Distributed deterministic embedding corpus with PLANTED near
    duplicates, for dedup/ANN scale probes: vector ``i`` is a pure
    function of ``(seed, i)`` (per-row seeded standard normals —
    partitioning-independent), and every ``dup_every``-th vector is the
    PREVIOUS vector plus ``noise``-scaled perturbation (cosine ~0.9999 at
    the default), so a semantic-dedup run has a known ground truth:
    ~n/dup_every planted twins, no other near-dups (random 64-dim cosines
    concentrate near 0)."""
    import numpy as np
    import pandas as pd

    parts = num_partitions or max(
        32, spark.sparkContext.defaultParallelism * 2)
    base = spark.range(0, n_vecs, 1, parts)

    def _raw(i: int) -> np.ndarray:
        return np.random.RandomState(
            (seed * 0x9E3779B1 + i) & 0x7FFFFFFF).randn(dim)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), dim), dtype=np.float32)
            for r, i in enumerate(ids):
                i = int(i)
                if dup_every and i % dup_every == 0 and i > 0:
                    pert = np.random.RandomState(
                        (seed * 0x85EBCA6B + i) & 0x7FFFFFFF).randn(dim)
                    out[r] = _raw(i - 1) + noise * pert
                else:
                    out[r] = _raw(i)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(out)})

    return base.mapInPandas(gen, "vec_id long, embedding array<float>")
