"""Raw pages -> training-corpus funnel: the round's page-structure
operators composed into one plan.

    pages (doc_id, html, base_url)
      -> fused bundle extraction (ONE Arrow pass: body spans, head
         metadata, outlinks, table census, meta-robots policy)
      -> policy gate        (drop publisher opt-outs: noindex/noai)
      -> render text        (span texts joined "\\n" — the kernel rule)
      -> quality gate       (fused one-projection C4/Gopher rules)
      -> exact dedup        (md5(text) groups, min(doc_id) keeper —
                             deterministic, map-side-combining)

Returns the survivor DataFrame plus a funnel-count dict (the corpus
build's acceptance report).  Every stage is an already-tested operator;
this module only sequences them (the page-side analog of
``plans/training_data.py::build_training_corpus``, which starts from
kernel documents instead of raw HTML).  No stage shuffles except the
final dedup's single hash agg; the bundle stage dominates and is
scan-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.operators.full_page import extract_page_bundle_df
from corpus_lab.operators.quality_gate import quality_gate

__all__ = ["build_page_corpus"]


def build_page_corpus(pages: DataFrame, min_tokens: int = 10,
                      min_quality: float = 0.3
                      ) -> tuple[DataFrame, dict[str, int]]:
    """See module docstring.  The returned counts dict has
    ``input / policy_pass / quality_pass / unique`` stages."""
    n_input = pages.count()
    bundle = extract_page_bundle_df(pages)
    allowed = bundle.filter(F.col("train_ok"))
    with_text = allowed.withColumn(
        "text",
        F.array_join(F.transform(
            F.filter("spans", lambda s: s["text"].isNotNull()),
            lambda s: s["text"]), "\n"))
    # cache the policy survivors once: the two funnel counts and the
    # gate otherwise each replay the Arrow extraction stage
    with_text = with_text.localCheckpoint(eager=True)
    n_policy = with_text.count()
    gated = quality_gate(with_text, min_tokens=min_tokens,
                         min_quality=min_quality)
    n_quality = gated.count()
    keeper = (gated
              .withColumn("_k", F.md5("text"))
              .groupBy("_k")
              .agg(F.min(F.struct("doc_id")).alias("_keep")))
    corpus = (gated.join(
        keeper.select(F.col("_keep.doc_id").alias("doc_id")), "doc_id",
        "left_semi"))
    n_unique = corpus.count()
    return corpus.drop("_k"), {
        "input": n_input, "policy_pass": n_policy,
        "quality_pass": n_quality, "unique": n_unique,
    }
