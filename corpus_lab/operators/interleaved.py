"""Interleaved multimodal sequence packing (engine-new, training-data
pipeline; the MMC4 / OBELICS recipe).

The flagship extraction emits ordered spans
``array<struct<kind,text,media_ref,offset>>`` — text interleaved with
image/video refs at their true document positions (the north-rule input
shape; reference analog: the article body + photo path the news-rss
publisher ships together, src/publish/models.rs).  A multimodal LLM
trains on fixed-length sequences where each media ref occupies a block
of placeholder tokens and the text keeps its original interleaving, so
the last mile is: cost every span (text = its token count, media = a
fixed placeholder budget), lay all spans out on one global token axis
in deterministic ``(doc_id, span position)`` order, and cut that axis
into ``seq_len``-token training sequences.

Scale shape: the global token axis is the two-phase distributed prefix
sum from ``operators.packing`` (bounds frozen driver-side, one tiny
per-partition totals collect — NO global window, NO driver loop), and
everything else is JVM expressions over the exploded spans.  Spans are
ATOMIC: a span belongs to the sequence containing its first token, so a
sequence may overflow by at most one span's cost — media placeholder
blocks are never torn in half (the property that makes the packed
output trainable), and the packer never re-tokenizes text.

``synth_interleaved_spans`` builds a deterministic spans table from any
documents relation — pure JVM expressions (split / sequence / transform
/ array_sort), no Python — so a SQL oracle can re-derive every span and
its packed position from the rule alone; the real extraction output
plugs into ``pack_interleaved_sequences`` unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.operators.packing import with_global_prefix_sum

SPAN_STRUCT_DDL = (
    "kind string, text string, media_ref string, offset int"
)


def synth_interleaved_spans(docs: DataFrame, *, words_per_span: int = 7,
                            text_per_image: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Deterministic interleaved spans from a documents relation:
    the doc's words in ``words_per_span`` groups as text spans, an image
    span (``media_ref = 'img:<doc>:<k>'``) after every
    ``text_per_image`` complete text spans, and a trailing video span
    on every fourth doc — all as one ordered
    ``array<struct<kind,text,media_ref,offset>>`` column (``offset`` =
    span position), built entirely from JVM expressions."""
    w = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                 lambda x: x != "")
    nt = F.ceil(F.size(w) / F.lit(words_per_span)).cast("int")
    ni = (nt / text_per_image).cast("int")
    did = F.col(id_col).cast("long")

    # text span j sits at interleaved position j + j div text_per_image
    # (one image inserted after every complete group of text spans);
    # image k sits right after text span (k+1)*text_per_image - 1
    tspans = F.transform(
        F.sequence(F.lit(0), nt - 1),
        lambda j: F.struct(
            (j + (j / text_per_image).cast("int")).alias("offset"),
            F.lit("text").alias("kind"),
            F.array_join(
                F.slice(w, j * words_per_span + 1, words_per_span),
                " ").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
        ))
    ispans = F.when(ni > 0, F.transform(
        F.sequence(F.lit(1), ni),
        lambda k: F.struct(
            (k * (text_per_image + 1) - 1).alias("offset"),
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("img:"), did.cast("string"), F.lit(":"),
                     (k - 1).cast("string")).alias("media_ref"),
        ))).otherwise(F.array().cast(
            f"array<struct<offset:int,kind:string,text:string,"
            f"media_ref:string>>"))
    vspan = F.when(did % 4 == 0, F.array(F.struct(
        (nt + ni).alias("offset"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("vid:"), did.cast("string")).alias("media_ref"),
    ))).otherwise(F.array().cast(
        "array<struct<offset:int,kind:string,text:string,"
        "media_ref:string>>"))

    # struct ordering is field order, so offset-first sorts by position
    ordered = F.array_sort(F.concat(tspans, ispans, vspan))
    spans = F.transform(ordered, lambda s: F.struct(
        s["kind"].alias("kind"), s["text"].alias("text"),
        s["media_ref"].alias("media_ref"), s["offset"].alias("offset")))
    return (docs
            .filter(F.col(text_col).isNotNull()
                    & (F.size(F.filter(F.split(F.trim(F.col(text_col)),
                                               r"\s+"),
                                       lambda x: x != "")) > 0))
            .select(did.alias("doc_id"), spans.alias("spans")))


def pack_interleaved_sequences(docs_spans: DataFrame, *, seq_len: int,
                               image_tokens: int = 16,
                               video_tokens: int = 32,
                               id_col: str = "doc_id",
                               spans_col: str = "spans",
                               materialize_input: bool = False) -> DataFrame:
    """Pack ordered interleaved spans into fixed-length training
    sequences: per-span token cost (text = whitespace token count,
    image/video = the placeholder budgets), global exclusive prefix sum
    in ``(doc_id, span_idx)`` order, then ``seq_id = start // seq_len``
    and ``seq_pos = start % seq_len``.

    Spans are atomic — a span lives in the sequence holding its first
    token.  ``doc_id`` must be numeric (the distributed prefix sum
    freezes range bounds driver-side) and each doc must carry fewer than
    65536 spans (the order key packs ``doc_id * 65536 + span_idx``;
    a collision is caught by the prefix sum's uniqueness probe, not
    silently mis-ordered).  Output: one row per span with its sequence
    assignment — exactly what a sequence-assembly writer partitions by
    ``seq_id``."""
    flat = docs_spans.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(spans_col).alias("span_idx", "s"))
    # a span is media iff it carries a media_ref — the real extraction
    # emits text-bearing kinds (meta/page/html/desc) alongside img/video,
    # so classifying by kind NAME would misprice every span; video gets
    # its own (larger) placeholder budget, any other media the image one
    is_text = F.col("s.media_ref").isNull()
    cost = (F.when(is_text,
                   F.coalesce(
                       F.size(F.filter(F.split(F.col("s.text"), r"\s+"),
                                       lambda x: x != "")),
                       F.lit(0)))
            .when(F.col("s.kind") == "video", F.lit(video_tokens))
            .otherwise(F.lit(image_tokens)))
    flat = flat.select(
        "doc_id", "span_idx",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        cost.cast("long").alias("tok_cost"),
        # decimal, not long: doc_id may be a full-range 64-bit hash
        # (xxhash64 of a URL id), and doc_id * 65536 overflows int64 —
        # ANSI mode fails the job rather than mis-ordering (caught by
        # the 1.2M-doc scale run)
        (F.col("doc_id").cast("decimal(38,0)") * 65536
         + F.col("span_idx")).alias("_okey"))
    if materialize_input:
        # the prefix sum executes its input plan three times (quantile,
        # totals, final); an eager localCheckpoint trades executor
        # storage for one upstream execution — right when the span
        # source is expensive (synthesis expressions, a fresh extract)
        # and the flat relation fits storage; leave False when the
        # input is a cheap parquet scan at corpus scale
        flat = flat.localCheckpoint(eager=True)
    packed = with_global_prefix_sum(flat, "_okey", "tok_cost",
                                    out="start_tok")
    return (packed
            .withColumn("seq_id", (F.col("start_tok") / seq_len)
                        .cast("long"))
            .withColumn("seq_pos",
                        F.col("start_tok") - F.col("seq_id") * seq_len)
            .drop("_okey"))


def assemble_sequences(packed: DataFrame) -> DataFrame:
    """Materialize the model-ready sequences: per ``seq_id``, the spans
    in packed order joined into one body string — text spans verbatim,
    media spans as alignment-preserving sentinels
    (``<img:REF>`` / ``<video:REF>``), which is the interleaved
    image-text format MMC4/OBELICS-style training consumes.

    One aggregation; ``collect_list`` order is non-deterministic, so the
    (seq_pos, piece) structs are ``array_sort``-ed before joining —
    seq_pos is unique within a sequence (it is a global-offset residue),
    making the body deterministic."""
    piece = F.when(F.col("media_ref").isNull(),
                   F.coalesce(F.col("text"), F.lit(""))) \
             .otherwise(F.concat(F.lit("<"), F.col("kind"), F.lit(":"),
                                 F.col("media_ref"), F.lit(">")))
    return (packed
            .select("seq_id", "seq_pos", piece.alias("piece"))
            .groupBy("seq_id")
            .agg(F.count("*").alias("n_spans"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("seq_pos", "piece"))),
                         lambda s: s["piece"]), " ").alias("body")))


def interleaved_sequence_stats(packed: DataFrame) -> DataFrame:
    """Per-sequence composition stats over the packed spans (one
    map-side-combinable aggregation): span/image/video counts and the
    text-vs-placeholder token split — the mixture report a training run
    reads before consuming the shards."""
    is_text = F.col("media_ref").isNull()
    return (packed.groupBy("seq_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(~is_text & (F.col("kind") != "video"), 1)
               .otherwise(0)).alias("n_images"),
        F.sum(F.when(~is_text & (F.col("kind") == "video"), 1)
               .otherwise(0)).alias("n_videos"),
        F.sum(F.when(is_text, F.col("tok_cost"))
               .otherwise(0)).alias("text_tokens"),
        F.sum(F.when(~is_text, F.col("tok_cost"))
               .otherwise(0)).alias("media_tokens"),
        F.count_distinct("doc_id").alias("n_docs"),
    ))


_SPAN_STRUCT = "struct<kind:string,text:string,media_ref:string,offset:int>"


def rebase_span_offsets(df: DataFrame, clean,
                        spans_col: str = "spans") -> DataFrame:
    """Apply a text-cleaning expression to the TEXT spans of an
    interleaved document and RE-ANCHOR every span's cumulative offset —
    the invariant a cleaning pass must preserve for multimodal training:
    media placeholders sit at exact character positions in the rendered
    text, and any normalization (mojibake repair, whitespace collapse,
    vowel-stripping demo transforms) shifts everything after it.

    ``clean`` is a Column -> Column JVM expression applied to spans with
    text and no media_ref; media spans pass through untouched.  Offsets
    are recomputed with the kernel's exact rule
    (``kernel/extract.py::_finalize_spans``: offset of span i = sum of
    prior span text lengths, null text adds 0).

    Pure whole-stage-codegen array arithmetic — one ``transform`` + one
    ``aggregate`` per row, zero Python, zero shuffle, so it fuses into
    whatever scan feeds it at 100 TB.
    """
    cleaned = F.transform(F.col(spans_col), lambda s: F.struct(
        s["kind"].alias("kind"),
        F.when(s["media_ref"].isNull() & s["text"].isNotNull(),
               clean(s["text"]))
         .otherwise(s["text"]).alias("text"),
        s["media_ref"].alias("media_ref")))
    zero = F.struct(
        F.lit(0).alias("pos"),
        F.array().cast(f"array<{_SPAN_STRUCT}>").alias("out"))
    rebased = F.aggregate(
        cleaned, zero,
        lambda acc, s: F.struct(
            (acc["pos"]
             + F.coalesce(F.length(s["text"]), F.lit(0))).alias("pos"),
            F.concat(acc["out"], F.array(F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                acc["pos"].cast("int").alias("offset")))).alias("out")),
        lambda acc: acc["out"])
    return df.withColumn(spans_col, rebased)
