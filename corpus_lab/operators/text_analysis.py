"""Text analysis operators for training-data pipelines (engine-new):
language-ID heuristic, quality scoring, token counting, fingerprinting.
Everything is built-in pyspark.sql.functions — whole-stage codegen, no
Python — and each has a bit-exact DuckDB oracle in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# marker words per language for the n-gram language-ID heuristic
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|in|is|that|for|with|was)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b",
    "fr": r"\b(le|la|les|et|est|une|des|que|pour|dans)\b",
    "es": r"\b(el|la|los|las|y|es|una|que|por|con)\b",
}

STOPWORD_RE = LANG_MARKERS["en"]

# BPE-ish token regex: words, numbers, or single non-space symbols —
# approximates subword token counts without a vocab file
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Regex token count approximating a BPE tokenizer's granularity."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0))


def marker_hits(text: Column, pattern: str) -> Column:
    # regexp_count == size(regexp_extract_all(...)) (same non-overlapping
    # match walk) without materializing the match array — measured 11x
    # faster on sf0.1 text; the DuckDB oracles keep len(regexp_extract_all)
    # since the COUNT is engine-identical either way.
    return F.regexp_count(F.lower(text), F.lit(pattern))


def lang_id(df: DataFrame, text_col: str = "text",
            out: str = "pred_lang") -> DataFrame:
    """Argmax over per-language marker-word hit rates; 'und' if no marker
    matches (deterministic tie-break by fixed language order).

    Formulated as one array argmax so each marker regex is evaluated exactly
    once per row (a naive fold of nested ``when`` chains re-embeds earlier
    hit expressions and blows up exponentially in the generated code).
    """
    text = F.col(text_col)
    langs = list(LANG_MARKERS)  # fixed iteration order = deterministic ties
    hits = F.array(*[marker_hits(text, LANG_MARKERS[lang]) for lang in langs])
    mx = F.array_max(hits)
    # array_position returns the FIRST index of the max -> first-wins ties,
    # identical to the sequential strictly-greater fold
    pick = F.element_at(F.array(*[F.lit(lg) for lg in langs]),
                        F.array_position(hits, mx).cast("int"))
    return df.withColumn(out, F.when(mx > 0, pick).otherwise(F.lit("und")))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features + composite score in [0, 1].

    Features mirror standard corpus-filtering heuristics: alphabetic ratio,
    stopword rate, mean word length sanity, punctuation density.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    toks = token_count(text)
    stop_hits = marker_hits(text, STOPWORD_RE)

    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    mean_word_len = F.when(toks > 0, n_alpha / toks).otherwise(F.lit(0.0))
    stop_ratio = F.when(toks > 0, stop_hits / toks).otherwise(F.lit(0.0))

    word_len_ok = F.when((mean_word_len >= 3) & (mean_word_len <= 10),
                         F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        0.4 * alpha_ratio
        + 0.2 * F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
        + 0.2 * word_len_ok
        + 0.2 * (1 - F.least(digit_ratio + punct_ratio, F.lit(1.0)))
    )
    return (
        df.withColumn("n_tokens", toks)
        .withColumn("alpha_ratio", F.round(alpha_ratio, 6))
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_word_len", F.round(mean_word_len, 6))
        .withColumn("quality_score", F.round(score, 6))
    )


def fingerprint(df: DataFrame, text_col: str = "text",
                shingle_n: int = 3) -> DataFrame:
    """Two document fingerprints:

    - ``norm_fp``: md5 of the lowercased text with all non-alphanumerics
      removed (whitespace/punct-invariant exact fingerprint);
    - ``min_shingle_fp``: lexicographic min of md5 over word n-gram
      shingles (a 1-hash MinHash — stable under local edits).
    """
    from corpus_lab.operators.text_dedup import with_shingles

    norm = F.md5(F.lower(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9]", "")))
    sh = with_shingles(df, text_col, n=shingle_n, out="_sh")
    return (
        sh.withColumn("norm_fp", norm)
        .withColumn("min_shingle_fp",
                    F.array_min(F.transform("_sh", lambda s: F.md5(s))))
        .drop("_sh")
    )


# ---------------------------------------------------------------- tf-idf

def _n_docs_agg(nonempty: DataFrame, id_col: str) -> DataFrame:
    """One-row (broadcastable) corpus size — stays IN the plan; an eager
    .count() here would block the driver and scan the corpus at
    plan-construction time."""
    return nonempty.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("_n_docs"))


def _with_idf(df_counts: DataFrame, nonempty: DataFrame,
              id_col: str) -> DataFrame:
    n = _n_docs_agg(nonempty, id_col)
    return (
        df_counts.crossJoin(F.broadcast(n))
        .withColumn(
            "idf",
            F.log((F.col("_n_docs") + 1.0) / (F.col("df_count") + 1)) + 1.0)
        .drop("_n_docs")
    )


def term_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Corpus vocabulary with document frequency and smoothed idf:
    idf = ln((N + 1) / (df + 1)) + 1.

    Scale shape: tokens are de-duplicated per document BEFORE the explode
    (array_distinct), so the shuffle carries one (doc, token) row per
    distinct pair and the df aggregation is a plain map-side-combined
    count — never a countDistinct over raw occurrences.  N enters as a
    broadcast one-row aggregate, fully lazy."""
    nonempty = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    pairs = nonempty.select(F.col(id_col), F.explode(toks).alias("token"))
    df_counts = pairs.groupBy("token") \
                     .agg(F.count("*").cast("long").alias("df_count"))
    return _with_idf(df_counts, nonempty, id_col)


def tfidf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-k tf-idf terms per document (vocabulary building / keyword
    extraction for corpus prep).  All JVM and fully lazy: ONE tokenizing
    explode feeds the tf aggregate, document frequency derives from tf's
    distinct (doc, token) rows (no second tokenization), idf joins back
    broadcast, and the per-key window top-k plans as WindowGroupLimit
    (only k rows per doc survive the exchange).  Ties break on token
    order for determinism.  At cluster scale persist/checkpoint ``tf``
    before this returns — it feeds both the df aggregate and the join."""
    from pyspark.sql import Window
    nonempty = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    occurrences = nonempty.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
    )
    tf = occurrences.groupBy(id_col, "token") \
                    .agg(F.count("*").cast("long").alias("tf"))
    # tf already holds exactly one row per distinct (doc, token) pair
    df_counts = tf.groupBy("token") \
                  .agg(F.count("*").cast("long").alias("df_count"))
    idf = _with_idf(df_counts, nonempty, id_col).select("token", "idf")
    scored = tf.join(F.broadcast(idf), on="token") \
               .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "tf", "tfidf", "rank")
    )


# ---------------------------------------------------------- dataset splits

def md5_draw32(id_col: str, salt: str) -> Column:
    """THE content-stable sampling draw: first 8 md5 hex chars of
    ``salt:id`` as a uniform 32-bit integer.  Single definition — the
    split/sample/mix operators and their DuckDB oracles all share this
    contract, so a change here is a dataset-versioning event, not a
    refactor.  A NULL id draws NULL, which fails every ``<`` comparison:
    samplers that keep on ``draw < cut`` DROP null-id rows, while
    assign_split's otherwise-branch sends them to 'train'."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"),
                                   F.col(id_col).cast("string"))), 1, 8),
        16, 10).cast("long")


def assign_split(df: DataFrame, id_col: str = "doc_id",
                 val_frac: float = 0.1, test_frac: float = 0.1,
                 salt: str = "split-v1") -> DataFrame:
    """Deterministic train/val/test assignment by content-stable hash.

    A training-data pipeline must split REPRODUCIBLY: the same document
    lands in the same split on every run, on any cluster, regardless of
    partitioning, row order, or corpus growth (new docs never move old
    ones between splits — the failure mode of rand(seed) or
    randomSplit, which are partition-order dependent).  The first 8 md5
    hex chars of (salt:id) give a uniform 32-bit draw; thresholds carve
    [0, 2^32) into test | val | train.  Changing ``salt`` re-rolls every
    assignment at once (dataset versioning).
    """
    draw = md5_draw32(id_col, salt)
    scale = float(1 << 32)
    test_cut = int(test_frac * scale)
    val_cut = test_cut + int(val_frac * scale)
    return df.withColumn(
        "split",
        F.when(draw < test_cut, F.lit("test"))
         .when(draw < val_cut, F.lit("val"))
         .otherwise(F.lit("train")),
    )


def assign_group_split(df: DataFrame, group_col: str = "source",
                       val_frac: float = 0.1, test_frac: float = 0.1,
                       salt: str = "gsplit-v1") -> DataFrame:
    """GROUP-AWARE train/val/test assignment: every row of a group
    (domain, publisher, crawl host) lands in the SAME split.

    Document-level splits leak: near-duplicate and templated documents
    concentrate within a domain, so hashing doc ids scatters a domain's
    near-dups across train AND test — the eval set then measures
    memorization of the training set's templates, not generalization
    (the same failure contamination_check guards against across
    corpora, here within one).  Hashing the GROUP key closes the leak
    by construction: split(doc) = f(domain) only.

    Mechanics are identical to :func:`assign_split` (shared
    ``md5_draw32`` contract, same threshold carve, NULL groups ->
    'train' via the otherwise-branch), so split fractions hold in
    EXPECTATION over groups; realized document fractions track group
    sizes (report them with a groupBy, don't assume).  Adds no shuffle:
    the draw is a per-row JVM expression on the group column.
    """
    draw = md5_draw32(group_col, salt)
    scale = float(1 << 32)
    test_cut = int(test_frac * scale)
    val_cut = test_cut + int(val_frac * scale)
    return df.withColumn(
        "split",
        F.when(draw < test_cut, F.lit("test"))
         .when(draw < val_cut, F.lit("val"))
         .otherwise(F.lit("train")),
    )


def stratified_sample(df: DataFrame, group_col: str = "source",
                      rates: dict[str, float] | None = None,
                      default_rate: float = 0.1,
                      id_col: str = "doc_id",
                      salt: str = "mix-v1") -> DataFrame:
    """Deterministic per-group downsampling for data-mix construction.

    Training corpora are assembled as weighted mixes (keep 100% of one
    source, 25% of another).  Like :func:`assign_split`, the keep/drop
    decision must be content-stable — the same doc survives on every
    run and on any partitioning — so the draw is the first 8 md5 hex
    chars of (salt:id) as a uniform 32-bit integer, compared against a
    per-group integer threshold ``rate * 2^32``.  One codegen'd filter,
    no shuffle, no RNG state.
    """
    rates = rates or {}
    draw = md5_draw32(id_col, salt)
    scale = float(1 << 32)
    cut = F.lit(int(default_rate * scale))
    for grp, rate in sorted(rates.items()):
        cut = F.when(F.col(group_col) == grp,
                     F.lit(int(rate * scale))).otherwise(cut)
    return df.filter(draw < cut)


def temperature_sample(df: DataFrame, group_col: str = "source",
                       alpha: float = 0.5, id_col: str = "doc_id",
                       salt: str = "temp-v1") -> DataFrame:
    """Temperature-based mixture rebalancing: downsample dominant groups
    so expected kept counts are proportional to ``n_g ** alpha``.

    The standard multilingual/data-mix recipe (XLM-style sampling with
    exponent ``alpha``): the web corpus is dominated by a few huge
    domains/languages, and training mixes flatten that head.  Keep-rate
    per group = ``(n_g / n_min) ** (alpha - 1)`` — the SMALLEST group is
    kept in full (rate 1) and larger groups are thinned so expected
    contributions follow the temperature curve.  ``alpha=1`` keeps
    everything; ``alpha=0`` equalizes every group's expected kept count
    at ``n_min``.

    Determinism contract: the per-group rate is rounded to 9 digits
    before scaling to a 32-bit integer threshold (the same contract the
    k-means oracle uses for cross-engine double parity), and the
    keep/drop draw is the content-stable md5 draw of
    :func:`stratified_sample` — the same doc survives on every run and
    any partitioning.

    Plan: one tiny hash-agg for group counts (|groups| rows), a window
    min over THAT tiny frame (never over the corpus), then a broadcast
    join + one codegen'd filter over the corpus — a single wide pass.
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    # window over the counts frame only: <= |groups| rows in one task,
    # NOT a corpus-wide single-partition window
    w = Window.partitionBy()
    rates = counts.withColumn("_nmin", F.min("_n").over(w)).withColumn(
        "_cut",
        F.floor(
            F.round(
                F.pow(F.col("_n").cast("double") / F.col("_nmin"),
                      F.lit(alpha - 1.0)),
                9)
            * F.lit(float(1 << 32))).cast("long"),
    ).select(F.col(group_col).alias("_grp"), "_cut")
    # null-SAFE join: a NULL group is a real group (it was counted above
    # and may even set n_min) — a plain equi-join would silently delete
    # every null-group row instead of sampling it
    return (df.join(F.broadcast(rates),
                    F.col(group_col).eqNullSafe(F.col("_grp")))
            .filter(md5_draw32(id_col, salt) < F.col("_cut"))
            .drop("_grp", "_cut"))


def top_k_per_group(df: DataFrame, group_col: str, order_col: str, k: int,
                    id_col: str = "doc_id",
                    rank_col: str = "rank") -> DataFrame:
    """Per-group quota selection: keep the ``k`` best rows of each group
    (e.g. cap every language at k documents, keeping the highest
    quality).  Ties break on ``id_col`` so the output is deterministic.

    Plan: one shuffle on ``group_col``; the ``row_number`` + ``<= k``
    filter compiles to Spark's WindowGroupLimit, which drops rows past
    rank k DURING the sort on the map side instead of materializing
    whole groups — a hot group never holds more than k rows per task.
    """
    w = (Window.partitionBy(group_col)
         .orderBy(F.desc(order_col), F.col(id_col)))
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


# ------------------------------------------------------- repetition stats

def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """Gopher-style within-document repetition signals over word n-grams.

    Quality filters for web corpora drop documents dominated by repeated
    boilerplate (Rae et al. 2021 §A1.1: "duplicate n-gram fraction" and
    "top n-gram fraction").  The synthetic corpus has no line structure,
    so both signals are word-n-gram based:

    - ``top_gram_frac``  — occurrences of the single most frequent
      n-gram / total n-grams
    - ``dup_gram_frac``  — occurrences belonging to any n-gram that
      appears more than once / total n-grams

    Plan: split -> one ``transform(sequence(...))`` building the n-gram
    array JVM-side -> explode -> two hash aggregations, both with
    map-side partial aggregation on (id, gram) first, so a hot document
    combines locally before the shuffle.  Docs with fewer than ``n``
    words yield no n-grams and are excluded (matching the oracle).
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.expr(
        f"transform(sequence(0, size(w) - {n}), "
        f"i -> array_join(slice(w, i + 1, {n}), ' '))")
    g = (df.select(F.col(id_col), w.alias("w"))
           .filter(F.size("w") >= n)
           .select(id_col, F.explode(grams).alias("gram")))
    c = g.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    return c.groupBy(id_col).agg(
        (F.max("cnt") / F.sum("cnt")).alias("top_gram_frac"),
        (F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0)))
         / F.sum("cnt")).alias("dup_gram_frac"),
        F.sum("cnt").cast("long").alias("n_grams"),
    )


# ------------------------------------------------------------- pii redaction

# corpus-prep scrubbing patterns (ordered: the email pattern must run
# before the phone pattern can see digit runs inside addresses)
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\d[\d\- ]{7,14}\d"),
]

# extended set: IBAN and IPv6 join the chain.  ORDER IS LOAD-BEARING:
# - iban before phone — an IBAN's digit body ("...500105175407...")
#   contains 8-16 digit windows the phone pattern would otherwise eat;
# - ipv6 before ipv4/phone — hex groups are digit-adjacent.
# The IPv6 pattern covers full-form addresses (2-7 colon groups); the
# '::'-compressed forms need alternation Spark's and DuckDB's regex
# engines disagree on at \b edges, so they stay out of the contract.
# All patterns are RE2-safe (no backrefs/lookaround), the repo-wide rule.
PII_PATTERNS_EXTENDED = [
    ("email", PII_PATTERNS[0][1]),
    ("iban", r"\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b"),
    ("ipv6", r"\b(?:[0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f]{1,4}\b"),
    ("ipv4", PII_PATTERNS[1][1]),
    ("phone", PII_PATTERNS[2][1]),
]


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "clean_text",
               patterns: list[tuple[str, str]] | None = None) -> DataFrame:
    """Scrub emails / IPv4 addresses / phone-like digit runs (and, with
    ``patterns=PII_PATTERNS_EXTENDED``, IBANs + full-form IPv6) from a
    text column, replacing each with a typed token (``<EMAIL>`` etc.) and
    counting matches per category.  Pure regexp_replace/regexp-count JVM
    expressions — whole-stage codegen, order-deterministic (patterns apply
    in the declared order so counts refer to the pre-redaction text of
    their own stage)."""
    cleaned = F.col(text_col)
    counted = df
    for name, pat in (PII_PATTERNS if patterns is None else patterns):
        counted = counted.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(cleaned, F.lit(pat), 0)).cast("long"))
        cleaned = F.regexp_replace(cleaned, pat, f"<{name.upper()}>")
    return counted.withColumn(out_col, cleaned)


# ------------------------------------------------------ C4 line filtering

def c4_line_filter(df: DataFrame, text_col: str = "text",
                   out_col: str = "clean_text",
                   min_words: int = 5) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 recipe, the
    rules every large text pipeline since reuses): keep only lines with
    >= ``min_words`` words that end in terminal punctuation; drop the
    whole document if it mentions "lorem ipsum" or contains a curly
    brace (code);  output adds per-doc ``n_lines``/``n_kept`` and the
    re-joined ``out_col``, and documents with zero surviving lines drop.

    All JVM expressions: one ``split`` + higher-order ``filter`` over the
    line array + ``rlike`` terminal-punctuation probe — codegen'd,
    shuffle-free, RE2-compatible (bit-exact DuckDB oracle).  The curly
    and lorem-ipsum probes are whole-document, applied before line
    inspection, exactly as in the paper."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda ln: (F.size(F.split(F.trim(ln), r"\s+")) >= min_words)
        & ln.rlike(r'[.!?"]\s*$'))
    doc_bad = (F.lower(F.col(text_col)).contains("lorem ipsum")
               | F.col(text_col).contains("{"))
    return (df
            .withColumn("n_lines", F.size(lines).cast("int"))
            .withColumn("n_kept",
                        F.when(doc_bad, F.lit(0))
                        .otherwise(F.size(kept)).cast("int"))
            .withColumn(out_col,
                        F.when(doc_bad, F.lit(None).cast("string"))
                        .otherwise(F.array_join(kept, "\n")))
            .filter(F.col("n_kept") > 0))


# ------------------------------------------------------- text normalization

# C0 controls except \t \n \r, plus DEL — stripped before training
_CONTROL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "norm_text",
                   lowercase: bool = False) -> DataFrame:
    """Corpus text canonicalization: strip control characters, collapse
    every whitespace run to a single space, trim, optionally lowercase.
    Pure JVM regexp_replace — codegen'd, shuffle-free, RE2-compatible
    patterns (bit-exact DuckDB oracle).  Unicode NFC is the separate
    Arrow stage :func:`normalize_text_nfc` (Spark has no NFC builtin)."""
    t = F.regexp_replace(F.col(text_col), _CONTROL_CLASS, "")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    if lowercase:
        t = F.lower(t)
    return df.withColumn(out_col, t)


def normalize_text_nfc(df: DataFrame, text_col: str = "text",
                       out_col: str = "norm_text") -> DataFrame:
    """Unicode NFC normalization as an Arrow-batched stage (Spark has no
    NFC expression; unicodedata.normalize runs per batch, not per row
    via a row UDF).  Schema: input columns + ``out_col`` string."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StringType, StructType

    fields = [df.schema[c] for c in df.columns]
    # never StructType.add on df.schema — it MUTATES the cached schema
    # object and corrupts the source DataFrame's resolution
    out_schema = StructType(list(df.schema.fields)
                            + [StructField(out_col, StringType())])

    def batches(it):
        import unicodedata
        for rb in it:
            tbl = pa.Table.from_batches([rb])
            col = tbl.column(text_col).to_pylist()
            norm = [None if s is None else unicodedata.normalize("NFC", s)
                    for s in col]
            yield pa.RecordBatch.from_arrays(
                [tbl.column(f.name).combine_chunks() for f in fields]
                + [pa.array(norm, type=pa.string())],
                names=[f.name for f in fields] + [out_col])

    return df.mapInArrow(batches, out_schema)


def frequent_ngrams(df: DataFrame, n: int = 3, min_docs: int = 2,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide frequent word n-grams — the boilerplate-mining step
    (heavy hitters feed the chunk-dedup / quality filters: cookie
    banners, nav strings, license boilerplate all surface here).

    Output: ``(ngram, n_docs, n_occurrences)`` for n-grams appearing in
    at least ``min_docs`` distinct documents.

    Plan shape for 100 TB: two hash aggregations, both decomposable —
    first by ``(ngram, doc)`` (map-side combine absorbs within-doc
    repetition), then by ``ngram`` (count = n_docs, sum = occurrences).
    Never a count(DISTINCT) over the raw explode — that would ship every
    occurrence of a hot n-gram to one reducer un-combined.  An exact
    top-k would add TakeOrdered on the result; thresholding keeps the
    output size data-dependent but bounded by the distinct-ngram count.
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.expr(
        f"transform(sequence(0, size(w) - {n}), "
        f"i -> array_join(slice(w, i + 1, {n}), ' '))")
    per_doc = (df.select(F.col(id_col), w.alias("w"))
               .filter(F.size("w") >= n)
               .select(id_col, F.explode(grams).alias("ngram"))
               .groupBy("ngram", id_col)
               .agg(F.count("*").cast("long").alias("occ")))
    return (per_doc.groupBy("ngram")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("occ").cast("long").alias("n_occurrences"))
            .filter(F.col("n_docs") >= min_docs))
