"""Corpus analytics: histograms, exact quantiles, deterministic uniform
samples, and PMI co-occurrence — the profiling pass a training-data run
does before committing filter thresholds (where do I cut doc length?
which sources are outliers? which word pairs are boilerplate glue?).

All four are single-purpose aggregation plans over the documents table:
no UDFs, no joins of corpus-sized relations, map-side partial
aggregation everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def histogram(df: DataFrame, value_col: str, lo: int, hi: int,
              n_bins: int, group_col: str | None = None) -> DataFrame:
    """Fixed-width histogram of an INTEGER measure over [lo, hi):
    ``(group?, bin, bin_lo, n)``.

    Binning is pure integer arithmetic — ``(x - lo) * n_bins div
    (hi - lo)`` with Spark's ``div`` / DuckDB's ``//`` — so there is no
    float boundary to disagree about at bin edges (DuckDB has no
    width_bucket; and a double quotient CAST differs across engines —
    Spark truncates, DuckDB rounds).  One hash aggregation with
    map-side combine; at most ``|groups| * n_bins`` rows ever shuffle.
    Out-of-range rows are dropped (callers profile the range first or
    widen it).  ``hi - lo`` must divide evenly by ``n_bins`` — with a
    remainder, integer binning makes some bins one unit wider than the
    uniform ``bin_lo`` labels claim, so the mismatch is rejected up
    front instead of mislabeling edges.
    """
    if (hi - lo) % n_bins != 0:
        raise ValueError(
            f"histogram: range {hi - lo} not divisible by n_bins={n_bins} "
            f"— bin_lo labels would not match actual integer bin edges")
    x = F.col(value_col).cast("long")
    bin_ = F.expr(f"(CAST({value_col} AS BIGINT) - {lo}) * {n_bins} "
                  f"div {hi - lo}")
    keys = ([F.col(group_col)] if group_col else []) + [bin_.alias("bin")]
    out = (df.filter((x >= lo) & (x < hi))
           .groupBy(*keys)
           .agg(F.count("*").alias("n")))
    width = (hi - lo) / n_bins
    return out.withColumn(
        "bin_lo", F.lit(float(lo)) + F.col("bin") * F.lit(width))


def group_quantiles(df: DataFrame, group_col: str, value_col: str,
                    probs: list[float]) -> DataFrame:
    """Exact linear-interpolated quantiles per group:
    ``(group, p, q)`` — Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the (n-1)*p rank convention bit-for-bit
    (probed on 997 uniform doubles), so the oracle needs no rounding
    slack.  Exact percentile sorts each group's values once inside the
    aggregation — right for profiling passes; for always-on telemetry at
    100 TB swap in approx_percentile and drop the oracle row.
    """
    arr = ", ".join(repr(float(p)) for p in probs)
    agg = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, array({arr}))").alias("qs"))
    labels = F.array(*[F.lit(float(p)) for p in probs])
    return (agg.select(F.col(group_col),
                       F.posexplode("qs").alias("i", "q"))
            .select(F.col(group_col),
                    F.element_at(labels, F.col("i") + 1).alias("p"),
                    F.col("q")))


def uniform_sample_k(df: DataFrame, group_col: str, k: int,
                     id_col: str = "doc_id",
                     salt: str = "sample-v1") -> DataFrame:
    """Deterministic uniform k-sample per group: rank rows by the
    content-stable md5 draw (the assign_split/stratified_sample hash
    contract) and keep the k smallest.  Unlike ``TABLESAMPLE`` or
    rand(seed), the SAME rows are sampled on every run, engine, and
    partitioning — and like top_k_per_group, the rank compiles to
    WindowGroupLimit, so hot groups never hold more than k rows per
    task."""
    draw = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(draw.asc(), F.col(id_col))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def pmi_pairs(df: DataFrame, text_col: str = "text", window: int = 3,
              min_count: int = 5, top_n: int = 50) -> DataFrame:
    """Top word pairs by pointwise mutual information within a
    ±``window``-token co-occurrence window: ``(a, b, n_ab, pmi)``.

    High-PMI pairs surface collocations and templated boilerplate glue
    ("all rights", "rights reserved") that per-word counts can't see.

    Pair generation is a nested ``transform(sequence(...))`` — one
    JVM-side generator per row, NO self-join of the position table (a
    positions⋈positions join would shuffle the corpus twice and explode
    skew on hot words).  Pairs are unordered (least/greatest), self
    pairs dropped; marginals and the total come from two further
    aggregations of the (much smaller) pair-count relation.  PMI =
    ln(n_ab * total / (n_a * n_b)) on exact integer ratios, rounded to
    6; ties break on (a, b).
    """
    t = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    pairs = F.expr(
        f"""flatten(transform(sequence(0, size(_t) - 2), i ->
              transform(sequence(i + 1, least(i + {window}, size(_t) - 1)),
                        j -> struct(least(_t[i], _t[j]) AS a,
                                    greatest(_t[i], _t[j]) AS b))))""")
    p = (df.filter(F.col(text_col).isNotNull())
         .select(t.alias("_t"))
         .filter(F.size("_t") >= 2)
         .select(F.explode(pairs).alias("pr"))
         .select("pr.a", "pr.b")
         .filter((F.col("a") != F.col("b"))
                 & (F.col("a") != "") & (F.col("b") != "")))
    counts = p.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    counts = counts.localCheckpoint(eager=True)  # read 3x below
    marg = (counts.select(F.col("a").alias("w"), "n_ab")
            .unionAll(counts.select(F.col("b").alias("w"), "n_ab"))
            .groupBy("w").agg(F.sum("n_ab").alias("n_w")))
    total = counts.agg(F.sum("n_ab")).collect()[0][0] or 0
    pmi = F.round(
        F.log(F.col("n_ab").cast("double") * F.lit(float(total))
              / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))),
        6)
    return (counts.filter(F.col("n_ab") >= min_count)
            .join(marg.withColumnRenamed("w", "a")
                  .withColumnRenamed("n_w", "n_a"), "a")
            .join(marg.withColumnRenamed("w", "b")
                  .withColumnRenamed("n_w", "n_b"), "b")
            .select("a", "b", "n_ab", pmi.alias("pmi"))
            .orderBy(F.desc("pmi"), "a", "b")
            .limit(top_n))


def rollup_counts(df: DataFrame, dims: list[str],
                  value_col: str = "n_chars") -> DataFrame:
    """Hierarchical subtotal cube over ``dims`` (Spark ``rollup`` —
    grouping sets (d1..dn), (d1..dn-1), ..., ()): doc counts + value
    sums at every prefix level in ONE aggregation pass instead of
    n+1 separate groupBys.  Subtotal rows mark rolled-up dims with
    '<all>', so every dim column comes back as STRING by construction —
    an int dim is cast explicitly (not silently coerced by coalesce),
    and the dims must be non-null (a real NULL would be
    indistinguishable from a subtotal marker)."""
    out = (df.rollup(*dims)
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum(value_col).cast("long").alias("total")))
    for d in dims:
        out = out.withColumn(
            d, F.coalesce(F.col(d).cast("string"), F.lit("<all>")))
    return out


def pivot_counts(df: DataFrame, row_col: str, pivot_col: str,
                 values: list[str]) -> DataFrame:
    """Cross-tab matrix: one row per ``row_col``, one column per pinned
    ``pivot_col`` value (counts; absent combinations = 0).  The value
    list is EXPLICIT — letting Spark discover pivot values costs an
    extra distinct pass over the corpus AND makes the output schema
    data-dependent, which breaks sinks and the oracle contract."""
    out = (df.groupBy(row_col)
           .pivot(pivot_col, values)
           .agg(F.count(F.lit(1))))  # count("*") is invalid inside pivot
    for v in values:
        # backtick-quote: a pivot value containing '.' would otherwise
        # parse as struct-field access instead of a column name
        out = out.withColumn(
            v, F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long"))
    return out


def weighted_sample_k(df: DataFrame, group_col: str, weight_col: str,
                      k: int, id_col: str = "doc_id",
                      salt: str = "wsample-v1") -> DataFrame:
    """Deterministic weighted k-sample WITHOUT replacement per group
    (Efraimidis-Spirakis A-ES): each row draws the content-stable
    uniform u and gets jitter key ``-ln(u) / w``; the k smallest keys
    per group are an exact weighted sample without replacement —
    doubling a row's weight doubles its inclusion odds, and (like
    uniform_sample_k) the SAME rows are chosen on every run, engine,
    and partitioning.  Rows with weight <= 0 or null are excluded.

    Plan: one codegen'd key expression + the WindowGroupLimit rank —
    identical shuffle shape to the uniform sampler; the weighting is
    free.  u = (draw32 + 0.5) / 2^32 keeps u strictly inside (0, 1)
    so ln() never sees 0.
    """
    from corpus_lab.operators.text_analysis import md5_draw32

    w = F.col(weight_col).cast("double")
    u = (md5_draw32(id_col, salt).cast("double") + F.lit(0.5)) \
        / F.lit(float(1 << 32))
    key = -F.log(u) / w
    win = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col))
    return (df.filter(w > 0)
            .withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= k).drop("_rn"))


def sampled_quantiles(df: DataFrame, group_col: str, value_col: str,
                      probs: list[float], k: int = 1024,
                      id_col: str = "doc_id",
                      salt: str = "qsketch-v1") -> DataFrame:
    """Quantile SKETCH per group — the 100 TB path exact
    :func:`group_quantiles` documents as its escape hatch, without
    giving up cross-engine determinism (Spark's approx_percentile is a
    GK sketch whose merge order is partitioning-dependent, so its
    output can differ run to run; this can't).

    Exact percentile over the deterministic bottom-k sample
    (:func:`uniform_sample_k`'s content-stable md5 draw): the full-group
    sort collapses to a WindowGroupLimit that holds at most k rows per
    task, and the percentile agg sees <= k rows per group however hot
    the group is.  The sample is MERGEABLE exactly like the bottom-k
    (KMV) set sketch: the k smallest draws of a union are a subset of
    the union of each side's k smallest, so shards can sample
    independently and re-rank — the same open-state rule as
    hll_registers (shards must draw with the SAME salt, or the re-rank
    compares incomparable orders).  Error: the empirical CDF of a k-uniform sample is
    within sqrt(ln(2/d)/2k) of the true CDF with prob 1-d (DKW), so
    k=1024 puts every quantile within ~4 percentile points at 95%
    confidence — profiling accuracy, at a bounded cost no data skew can
    break.  Groups smaller than k degrade to the EXACT quantiles (the
    sample is the whole group)."""
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    sample = uniform_sample_k(df, group_col, k, id_col=id_col, salt=salt)
    return group_quantiles(sample, group_col, value_col, probs)


def corpus_health_report(docs: DataFrame, text_col: str = "text",
                         lang_col: str = "lang",
                         source_col: str = "source") -> DataFrame:
    """One-row corpus dashboard: the numbers an ingest operator checks
    every morning — volume (docs, bytes), diversity (langs, sources),
    exact duplicate rate (md5 distinct over text), and length p50/p90
    (exact percentile_disc, both engines implement SQL percentile
    semantics on sorted longs identically).

    Plan: one pass of map-side-combinable aggs; the two distinct-counts
    are the only wide states and stay bounded by the vocabulary of
    langs/sources (distinct text hashes are corpus-sized — at 100 TB
    swap that term for hll_distinct's register sketch; exact here, where
    the gate wants value equality)."""
    n = F.count(F.lit(1))
    return docs.filter(F.col(text_col).isNotNull()).agg(
        n.alias("n_docs"),
        F.sum(F.octet_length(text_col)).alias("total_bytes"),
        F.countDistinct(lang_col).alias("n_langs"),
        F.countDistinct(source_col).alias("n_sources"),
        F.round(F.lit(1.0)
                - F.countDistinct(F.md5(F.col(text_col))).cast("double")
                / n.cast("double"), 9).alias("dup_rate"),
        F.expr(f"percentile_disc(0.5) WITHIN GROUP "
               f"(ORDER BY octet_length({text_col}))")
         .cast("long").alias("p50_bytes"),
        F.expr(f"percentile_disc(0.9) WITHIN GROUP "
               f"(ORDER BY octet_length({text_col}))")
         .cast("long").alias("p90_bytes"))
