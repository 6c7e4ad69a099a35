"""One-call training-corpus construction: the full LLM-data funnel over a
documents table, composed from the engine's individual operators
(engine-new; the reference stops at publish — this is the downstream
pipeline its output feeds at 100 TB).

    quality filter  ->  exact dedup  ->  fuzzy dedup (MinHash LSH +
    Jaccard verify + connected components)  ->  benchmark
    decontamination  ->  [optional DSIR target selection]  ->
    [optional temperature mix]  ->  deterministic split  ->
    token-budget shard packing  ->  partitioned parquet corpus +
    funnel stats

Every stage is the scale-shaped operator already proven individually
(map-side-combined aggregations, banded LSH equi-joins, broadcast
benchmark side, content-stable split hashing, two-phase prefix-sum
packing); this module only sequences them and accounts the funnel.

Efficiency notes at 100 TB:

- the exact-dedup and fuzzy-dedup survivor sets are each
  ``localCheckpoint``-ed once — the fuzzy stage reads the former three
  times and every later stage (decontaminate/split/pack/write) would
  otherwise re-mine the LSH pairs through Spark's lazy plan (measured 7x
  on the components fixpoint, operators/components.py);
- funnel counts cost one extra aggregation pass (pre-dedup stages share
  a single agg) plus cheap counts on the checkpointed frames — never a
  per-stage re-execution of the upstream prefix;
- shard packing runs per split (3 small plans) so shards never straddle
  train/val/test;
- the corpus lands ``partitionBy(split)``, lz4 (measured: snappy
  collapses under many writer threads, BENCH/BASELINE.md).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus_lab.operators.components import keep_only_keepers
from corpus_lab.operators.text_analysis import (
    assign_split,
    quality_features,
    temperature_sample,
)
from corpus_lab.operators.text_dedup import (
    contamination_check,
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
)
from corpus_lab.operators.packing import (
    concat_and_chunk,
    pack_into_shards,
)


@dataclass
class CorpusFunnel:
    n_input: int
    n_quality: int
    n_exact: int
    n_fuzzy: int
    n_clean: int
    split_docs: dict[str, int]
    split_tokens: dict[str, int]
    split_shards: dict[str, int]
    n_dsir: int | None = None


def build_training_corpus(docs: DataFrame, *,
                          bench: DataFrame | None = None,
                          quality_min: float = 0.3,
                          jaccard_threshold: float = 0.8,
                          val_frac: float = 0.1, test_frac: float = 0.1,
                          shard_token_budget: int = 20_000,
                          dsir_target: DataFrame | None = None,
                          dsir_keep: int | None = None,
                          dsir_buckets: int = 4096,
                          dsir_salt: str = "dsir-v1",
                          mix_alpha: float | None = None,
                          mix_group_col: str = "source",
                          text_col: str = "text",
                          id_col: str = "doc_id") -> tuple[DataFrame, CorpusFunnel]:
    """Run the funnel; returns ``(corpus_df, funnel)`` where ``corpus_df``
    has the input columns plus ``quality_score, n_tokens, split,
    shard_id`` and ``funnel`` the per-stage retention counts.

    ``bench`` (optional) is the held-out benchmark table for 8-gram
    decontamination; docs sharing any 8-gram with it are dropped.

    ``dsir_target`` + ``dsir_keep`` (optional) apply DSIR importance
    resampling AFTER decontamination: fit hashed n-gram bag models on
    the target table vs the surviving corpus, keep the ``dsir_keep``
    docs by Gumbel top-k over the log-likelihood-ratio weights
    (operators/dsir; content-stable under ``dsir_salt``).

    ``mix_alpha`` (optional) applies temperature mixture rebalancing
    over ``mix_group_col`` AFTER dedup/decontamination and BEFORE the
    split (so the rebalanced corpus still splits content-stably):
    expected kept counts per group follow ``n ** alpha``
    (operators/text_analysis.temperature_sample).
    """
    base = docs.filter(F.col(text_col).isNotNull()
                       & (F.length(F.trim(F.col(text_col))) > 0))
    scored = quality_features(base, text_col)
    # ONE aggregation pass yields both pre-dedup funnel counts — never a
    # count() per stage, which would re-execute the whole upstream prefix
    pre = scored.agg(
        F.count("*").alias("n_in"),
        F.sum((F.col("quality_score") >= quality_min).cast("long"))
        .alias("n_q")).collect()[0]
    n_input, n_quality = int(pre["n_in"]), int(pre["n_q"] or 0)

    passed = scored.filter(F.col("quality_score") >= quality_min)
    deduped = exact_dedup(passed, text_col, id_col)
    # checkpoint the exact-dedup survivors: the fuzzy stage reads them
    # THREE times (candidate shingles, verify shingles, keeper semi-join)
    # — one materialization beats >=3 re-runs of the quality+dedup prefix
    deduped = deduped.localCheckpoint(eager=True)
    n_exact = deduped.count()

    cands = minhash_candidate_pairs(deduped, text_col=text_col,
                                    id_col=id_col)
    pairs = ngram_jaccard_pairs(deduped, threshold=jaccard_threshold,
                                text_col=text_col, id_col=id_col,
                                candidates=cands)
    fuzzy = keep_only_keepers(deduped, pairs.select("a", "b"), id_col=id_col)
    # checkpoint the fuzzy survivor set too: everything downstream
    # (decontamination, split, 3x packing, write) re-reads it instead of
    # re-mining LSH pairs through the lazy plan (measured 7x on the
    # components fixpoint, operators/components.py)
    fuzzy = fuzzy.localCheckpoint(eager=True)
    n_fuzzy = fuzzy.count()

    if bench is not None:
        dirty = contamination_check(fuzzy, bench, text_col, id_col)
        clean = fuzzy.join(dirty.select(id_col), id_col, "left_anti")
    else:
        clean = fuzzy
    if (dsir_target is None) != (dsir_keep is None):
        raise ValueError(
            "dsir_target and dsir_keep must be passed together "
            "(one without the other would silently skip DSIR selection)")
    n_dsir = None
    if dsir_target is not None and dsir_keep is not None:
        from corpus_lab.operators.dsir import (
            bucket_log_ratio, dsir_select, dsir_weights,
            hashed_feature_counts,
        )
        # the DSIR stage reads `clean` twice inside the selection job
        # (raw model + weight probe) and once more for the semi-join —
        # checkpoint the decontaminated survivors first, same rationale
        # as the exact/fuzzy checkpoints above
        clean = clean.localCheckpoint(eager=True)
        raw_counts = hashed_feature_counts(clean, dsir_buckets,
                                           text_col, id_col)
        tgt_counts = hashed_feature_counts(dsir_target, dsir_buckets,
                                           text_col, id_col)
        lr = bucket_log_ratio(tgt_counts, raw_counts, dsir_buckets)
        # the selection is <= dsir_keep rows: checkpoint it so the count
        # and the semi-join don't each re-run the weights job
        sel = dsir_select(dsir_weights(raw_counts, lr, id_col),
                          dsir_keep, dsir_salt, id_col) \
            .localCheckpoint(eager=True)
        n_dsir = sel.count()
        if n_dsir == 0 and dsir_keep > 0:
            # an empty selection on a requested k>0 means the importance
            # model was undefined (empty/feature-less target, or the
            # corpus itself emptied upstream) — proceeding would ship an
            # empty corpus as if DSIR had sampled it
            raise ValueError(
                "DSIR selected 0 documents: dsir_target (or the "
                "surviving corpus) has no hashed n-gram features")
        clean = clean.join(sel.select(id_col), id_col, "left_semi")
    if mix_alpha is not None and mix_alpha < 1.0:
        clean = temperature_sample(clean, mix_group_col, alpha=mix_alpha,
                                   id_col=id_col)
    # quality_features already tokenized every doc — reuse its n_tokens
    # instead of re-splitting the corpus text a second time
    clean = (assign_split(clean, id_col, val_frac, test_frac)
             .withColumn("n_tokens", F.col("n_tokens").cast("long")))
    clean = clean.localCheckpoint(eager=True)
    n_clean = clean.count()

    packed = []
    split_docs: dict[str, int] = {}
    split_tokens: dict[str, int] = {}
    split_shards: dict[str, int] = {}
    for split in ("train", "val", "test"):
        part = clean.filter(F.col("split") == split)
        if part.isEmpty():
            split_docs[split] = 0
            split_tokens[split] = 0
            split_shards[split] = 0
            continue
        shards = pack_into_shards(part, shard_token_budget,
                                  order_col=id_col, tokens_col="n_tokens")
        shards = shards.drop("prefix_sum")
        packed.append(shards)
        agg = shards.agg(
            F.count("*").alias("d"), F.sum("n_tokens").alias("t"),
            F.countDistinct("shard_id").alias("s")).collect()[0]
        split_docs[split] = int(agg["d"])
        split_tokens[split] = int(agg["t"])
        split_shards[split] = int(agg["s"])

    if packed:
        corpus = packed[0]
        for p in packed[1:]:
            corpus = corpus.unionByName(p)
    else:  # fully-filtered corpus: keep the output schema stable
        corpus = clean.limit(0).withColumn("shard_id",
                                           F.lit(0).cast("int"))
    funnel = CorpusFunnel(n_input, n_quality, n_exact, n_fuzzy, n_clean,
                          split_docs, split_tokens, split_shards,
                          n_dsir=n_dsir)
    return corpus, funnel


def build_context_windows(corpus: DataFrame, chunk_tokens: int,
                          id_col: str = "doc_id",
                          checkpoint: bool = True) -> DataFrame:
    """Concat-and-split context-window map over a packed corpus
    (the ``split`` + ``n_tokens`` columns of :func:`build_training_corpus`
    output): each split gets its OWN token axis, so no window ever
    straddles train/val/test.  Returns
    ``(split, chunk_id, id_col, doc_start, doc_end, chunk_off)`` — the
    assembly plan a tokenizer job consumes without materializing the
    concatenated corpus anywhere (operators/packing.concat_and_chunk).

    The corpus lineage is read THREE times (one token axis per split),
    each with an eager prefix-sum job — so it is localCheckpoint'd here
    by default; pass ``checkpoint=False`` only when the caller already
    materialized it (run_training_corpus_job does), otherwise a funnel-
    fresh corpus would re-run quality+dedup+decontamination per split."""
    if checkpoint:
        corpus = corpus.localCheckpoint(eager=True)
    outs = []
    for split in ("train", "val", "test"):
        part = corpus.filter(F.col("split") == split)
        win = concat_and_chunk(part, chunk_tokens, order_col=id_col,
                               tokens_col="n_tokens")
        outs.append(win.select(F.lit(split).alias("split"), "*"))
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged


def run_training_corpus_job(spark: SparkSession, docs: DataFrame,
                            out_dir: str,
                            chunk_tokens: int | None = None,
                            **kwargs) -> CorpusFunnel:
    """Build the corpus and land it as ``partitionBy(split)`` lz4 parquet
    at ``out_dir``; returns the funnel stats.  With ``chunk_tokens`` set,
    the per-split context-window map additionally lands under
    ``out_dir + "_windows"``."""
    corpus, funnel = build_training_corpus(docs, **kwargs)
    if chunk_tokens is not None:
        # the window map re-reads the corpus three times (one axis per
        # split) — checkpoint once instead of re-running the funnel tail
        corpus = corpus.localCheckpoint(eager=True)
    (corpus.write.mode("overwrite")
     .option("compression", "lz4")
     .partitionBy("split")
     .parquet(out_dir))
    if chunk_tokens is not None:
        (build_context_windows(corpus, chunk_tokens, checkpoint=False)
         .write.mode("overwrite")
         .option("compression", "lz4")
         .partitionBy("split")
         .parquet(out_dir + "_windows"))
    return funnel
