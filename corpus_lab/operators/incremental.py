"""Incremental dedup: filter a new batch against a PERSISTED signature
index without touching the already-deduplicated corpus.

Production shape (the one that matters at 100 TB): the corpus's MinHash
band keys live in a bucketed table keyed by ``(band, band_key)`` —
written once when the corpus was deduplicated, appended to as batches
are accepted.  Deduplicating a new crawl batch then costs

    O(|batch|) signature computation  +  one join against the index

and never rescans corpus text.  Reference analog: news-rss keeps a
seen-URL cache so refetches skip already-published articles
(``src/cache/local/mod.rs``); this is the content-level generalization.

Join strategy by index size:
- small index (early corpus) -> broadcast the band keys;
- big index -> the index is ALREADY bucketed on (band, band_key), so
  only the batch side shuffles (one-sided sort-merge join);
- hot path -> publish a Bloom filter over band keys (operators/bloom.py)
  and pre-prune the batch before the exact join.

Hashing is md5 end-to-end (same contract as operators/text_dedup) so the
whole flow has a bit-exact DuckDB oracle; swap xxhash64 at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from corpus_lab.operators.text_dedup import minhash_band_keys

__all__ = ["build_signature_index", "dedup_against_index"]


def build_signature_index(df: DataFrame, n_hashes: int = 8,
                          rows_per_band: int = 2, text_col: str = "text",
                          id_col: str = "doc_id",
                          shingle_n: int = 2) -> DataFrame:
    """The persisted index relation: one row per (id, band, band_key).

    Persist with ``.write.bucketBy(N, "band", "band_key")`` (or Iceberg
    ``partitionedBy(bucket(N, band_key))``) so future batch joins are
    one-sided.  Kept long-form (id included) so accepted batches can be
    appended with the same schema and an index entry can be traced back
    to its document for audits.
    """
    return minhash_band_keys(df, n_hashes, rows_per_band,
                             text_col, id_col, shingle_n)


def dedup_against_index(batch: DataFrame, index: DataFrame,
                        n_hashes: int = 8, rows_per_band: int = 2,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 2,
                        broadcast_index: bool = False) -> DataFrame:
    """Rows of ``batch`` that share NO LSH band with the indexed corpus.

    A batch doc is dropped iff ANY of its b bands equals an index band
    (the standard MinHash-LSH candidate rule — same S-curve semantics as
    ``minhash_candidate_pairs``, with the corpus side precomputed).  Two
    narrow joins, both on compact keys:

    1. batch band keys LEFT SEMI JOIN index on (band, band_key) — only
       (id, band, band_key) rows move, never text;
    2. batch LEFT ANTI JOIN the hit ids — text is shipped only for rows
       that survive.

    ``broadcast_index=True`` hints the semi join when the index's band
    keys fit on executors (early-corpus regime); default leaves it to
    AQE + the index table's bucketing.
    """
    bands = minhash_band_keys(batch.select(id_col, text_col), n_hashes,
                              rows_per_band, text_col, id_col, shingle_n)
    idx_keys = index.select("band", "band_key")
    if broadcast_index:
        idx_keys = F.broadcast(idx_keys)
    hit_ids = (bands.join(idx_keys, on=["band", "band_key"], how="left_semi")
               .select(id_col).distinct())
    return batch.join(hit_ids, on=id_col, how="left_anti")
