"""Corpus-level TextRank keyword extraction (Mihalcea & Tarau 2004) —
rank words by running PageRank over the word co-occurrence graph, the
unsupervised keyword/topic signal a training-data pipeline uses to
label corpus slices without a model.

Graph construction (the paper's window=2 recipe, corpus-level):

- candidate words = whitespace tokens, lowercased, kept iff they match
  ``^[a-z]{min_len,}$`` (the POS filter stand-in: drops stopword-length
  tokens, numbers, punctuation-bearing tokens deterministically);
- an undirected edge joins each ADJACENT pair in the filtered sequence
  (adjacent identical words form a self-edge and count like any other
  edge — :func:`~corpus_lab.operators.pagerank.pagerank` treats
  self-links uniformly, and the oracle replays them);
- duplicate co-occurrences count once (the simple-graph ``distinct``
  inside pagerank), matching the unweighted-graph variant of the paper.

Words enter the rank as 63-bit md5 node ids (the engine's cross-engine
id idiom — DuckDB replays ``CAST('0x'||substr(md5(w),1,15) AS
BIGINT)`` exactly); ranks inherit pagerank's 9-digit per-iteration
rounding contract, so the DuckDB oracle unrolls the identical
iterations over the identical graph.

Scale shape: the pair fan-out is a per-row ``zip_with`` over two array
slices (no shuffle, no re-tokenization per position — the shingle
lesson from operators/text_dedup.py); the only corpus-sized shuffle is
the edge ``distinct``; everything after is vocabulary-sized (pagerank
joins) or rank-sized (the final top-k, a TakeOrderedAndProject — never
a global sort).

Adjacent pairs via ``zip_with(slice(w,1,n-1), slice(w,2,n-1), ...)``
rather than ``transform(sequence, i -> (w[i], w[i+1]))``: the indexed
lambda re-inlines the token split per position (measured 5x on the
shingle operators, see text_dedup.with_shingles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.operators.pagerank import pagerank

__all__ = ["cooccurrence_edges", "textrank_keywords"]


def _word_id(col):
    """63-bit md5 slice — the cross-engine node-id idiom."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def cooccurrence_edges(df: DataFrame, text_col: str = "text",
                       min_len: int = 4) -> DataFrame:
    """Undirected window-2 co-occurrence pairs as directed edge rows
    ``(w1, w2)`` — both orientations emitted, duplicates NOT collapsed
    here (pagerank's simple-graph distinct owns that)."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda t: t.rlike(f"^[a-z]{{{min_len},}}$"))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    p = (df.where(F.col(text_col).isNotNull())
         .select(F.explode(pairs).alias("p"))
         .select(F.col("p.a").alias("w1"), F.col("p.b").alias("w2")))
    return p.unionAll(p.select(F.col("w2").alias("w1"),
                               F.col("w1").alias("w2")))


def textrank_keywords(df: DataFrame, text_col: str = "text", k: int = 25,
                      iters: int = 3, damping: float = 0.85,
                      min_len: int = 4) -> DataFrame:
    """Top ``k`` corpus keywords: ``(word, rank)`` ordered by rank desc,
    word asc (word is unique, so the order — and the top-k cut — is
    total and engine-independent)."""
    ew = cooccurrence_edges(df, text_col, min_len)
    edges = ew.select(_word_id(F.col("w1")).alias("src"),
                      _word_id(F.col("w2")).alias("dst"))
    vocab = ew.select(F.col("w1").alias("word")).distinct() \
              .withColumn("wid", _word_id(F.col("word")))
    pr = pagerank(edges, iters=iters, damping=damping)
    return (pr.join(vocab, pr["node"] == vocab["wid"])
            .select("word", "rank")
            .orderBy(F.desc("rank"), F.asc("word"))
            .limit(k))
