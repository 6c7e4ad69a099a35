"""Training-shard packing: assign documents to fixed-token-budget shards
(the corpus-assembly step before tokenizer/LM training) via a DISTRIBUTED
prefix sum.

The naive formulation — ``sum(tokens) OVER (ORDER BY id)`` with no
partition key — collapses the whole corpus into ONE window partition: a
single task materializes 100 TB of rows.  The scale-correct pattern here
is the classic two-phase prefix sum:

1. range-repartition on the order key, cumsum WITHIN each partition
   (window partitioned by ``spark_partition_id()`` — parallel, bounded);
2. collect the per-partition totals (one tiny row per partition), prefix-
   sum THOSE on the driver, and broadcast-join each partition's starting
   offset back.

The result is byte-identical to the global window (the oracle runs the
naive single-window SQL at small scale) while every stage stays
partition-parallel.  Shard id = exclusive-prefix // budget: greedy
assignment in key order, documents may straddle budget boundaries —
shard sizes are >= budget except the last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_global_prefix_sum(df: DataFrame, order_col: str, value_col: str,
                           out: str = "prefix_sum",
                           num_partitions: int | None = None) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` in global ``order_col`` order,
    without ever forming a global window partition.

    The range partitioning is derived from bounds FROZEN driver-side
    (one column-pruned approxQuantile pass), and ``_pid`` is then a pure
    expression of the order key — so the totals job and the final job
    compute the identical partition assignment by construction.
    (repartitionByRange would re-SAMPLE boundaries per execution: the
    two jobs could disagree about which side of a boundary a row falls
    on, silently joining it onto the wrong offset; pinning one layout
    with localCheckpoint avoids that too, but holds a full corpus copy
    in executor storage for the job's lifetime.)

    Contract: ``df``'s plan executes THREE times (quantile pass, totals
    pass, final pass) — the input lineage must be DETERMINISTIC (no
    rand()-derived rows, no concurrently-rewritten source); materialize
    non-deterministic input first (the training funnel checkpoints
    upstream for exactly this reason).  ``order_col`` must be numeric —
    approxQuantile and the bounds expression don't order strings; this
    is checked up front.  ``order_col`` must also be UNIQUE (like
    doc_id): the window sum over tied order values depends on arrival
    order within the tie, so duplicate keys break the byte-identical
    determinism contract — checked below at the cost the totals pass
    already pays (the duplicate probe rides the same aggregation shape).
    """
    spark = df.sparkSession
    dtype = dict(df.dtypes).get(order_col)
    if dtype not in ("tinyint", "smallint", "int", "bigint",
                     "float", "double") and not (
            dtype or "").startswith("decimal"):
        raise TypeError(
            f"with_global_prefix_sum: order_col {order_col!r} has type "
            f"{dtype!r}; only numeric order keys are supported (bounds "
            f"are frozen via approxQuantile)")
    n_parts = num_partitions or spark.sparkContext.defaultParallelism * 2
    probs = [i / n_parts for i in range(1, n_parts)]
    bounds = sorted(set(
        df.approxQuantile(order_col, probs, 1.0 / (4 * n_parts))))
    if bounds:
        b_arr = F.array(*[F.lit(b) for b in bounds])
        pid = F.size(F.filter(
            b_arr, lambda b: b < F.col(order_col).cast("double")))
    else:  # empty input (or single value): everything in partition 0
        pid = F.lit(0)
    keyed = df.withColumn("_pid", pid)
    w = Window.partitionBy("_pid").orderBy(order_col) \
              .rowsBetween(Window.unboundedPreceding, -1)
    local = keyed.withColumn(
        "_local_prefix", F.coalesce(F.sum(value_col).over(w), F.lit(0)))
    # one tiny row per partition -> driver prefix-sum -> broadcast back.
    # The same pass proves order_col uniqueness: duplicates of an order
    # value land in one _pid (pid is a function of the value), so a
    # per-pid count vs count-distinct mismatch catches every tie without
    # an extra job — ties would make the window sum arrival-order-
    # dependent, violating the determinism contract.
    totals_rows = (keyed.groupBy("_pid")
                   .agg(F.sum(value_col).alias("t"),
                        F.count("*").alias("n"),
                        F.count_distinct(order_col).alias("nd")).collect())
    if any(r["n"] != r["nd"] for r in totals_rows):
        raise ValueError(
            f"with_global_prefix_sum: order_col {order_col!r} has "
            "duplicate values — the global order (and therefore the "
            "prefix sum) would be nondeterministic; use a unique key "
            "like doc_id")
    totals = sorted((r["_pid"], r["t"]) for r in totals_rows)
    offsets, acc = [], 0
    for pid_val, t in totals:
        offsets.append((pid_val, acc))
        acc += t or 0
    off_df = spark.createDataFrame(offsets or [(0, 0)],
                                   "_pid int, _offset long")
    return (
        local.join(F.broadcast(off_df), on="_pid")
        .withColumn(out, (F.col("_local_prefix") + F.col("_offset"))
                    .cast("long"))
        .drop("_pid", "_local_prefix", "_offset")
    )


def pack_into_shards(df: DataFrame, budget: int,
                     order_col: str = "doc_id",
                     tokens_col: str = "n_tokens") -> DataFrame:
    """Greedy shard assignment in ``order_col`` order: a document starts in
    the shard its exclusive token-prefix falls into."""
    pref = with_global_prefix_sum(df, order_col, tokens_col)
    return pref.withColumn(
        "shard_id", F.floor(F.col("prefix_sum") / budget).cast("int"))


def concat_and_chunk(df: DataFrame, chunk_tokens: int,
                     order_col: str = "doc_id",
                     tokens_col: str = "n_tokens") -> DataFrame:
    """Concat-and-split sequence packing: lay every document's tokens out
    on one global token axis (in ``order_col`` order) and cut it into
    fixed-size context windows of ``chunk_tokens`` — the standard LM
    pretraining batch layout, where documents straddle window boundaries
    and short documents share a window.

    Output: one row per (window, document-slice) —

    - ``chunk_id``  — the context window index
    - ``doc_start``/``doc_end`` — the within-document token slice
      [start, end) this window takes
    - ``chunk_off`` — where that slice begins inside the window

    so downstream tokenization can assemble each window with
    ``collect_list(struct(chunk_off, doc_id, doc_start, doc_end))``
    grouped by ``chunk_id`` without ever materializing the concatenated
    corpus on one node.

    Plan: the distributed two-phase prefix sum (above) gives each doc
    its global offset; the window span is then a pure per-row
    ``explode(sequence(first_chunk, last_chunk))`` — output size is
    ``total_tokens / chunk_tokens + n_docs`` rows, linear in the corpus,
    with no shuffle beyond the range partition the prefix sum already
    did.  Zero-token docs contribute no rows (matching the oracle).
    """
    c = F.lit(chunk_tokens)
    n = F.col(tokens_col).cast("long")
    p = F.col("prefix_sum")
    pref = with_global_prefix_sum(
        df.filter(F.col(tokens_col) > 0), order_col, tokens_col)
    spanned = pref.withColumn(
        "chunk_id", F.explode(F.sequence(
            F.floor(p / c), F.floor((p + n - F.lit(1)) / c))))
    cid = F.col("chunk_id")
    return spanned.select(
        cid.cast("long").alias("chunk_id"),
        F.col(order_col),
        F.greatest(cid * c - p, F.lit(0)).cast("long").alias("doc_start"),
        F.least(n, (cid + 1) * c - p).cast("long").alias("doc_end"),
        F.greatest(p - cid * c, F.lit(0)).cast("long").alias("chunk_off"),
    )


def shuffle_into_shards(df: DataFrame, n_shards: int,
                        salt: str = "shuffle-v1",
                        id_col: str = "doc_id") -> DataFrame:
    """Deterministic global corpus shuffle into ``n_shards`` output
    shards — the shuffled-shard writer every pretraining pipeline runs
    last, so that a sequential reader of shard files sees documents in
    content-independent random order (adjacent crawl/source documents
    must not land adjacent in training batches).

    The permutation is a content-stable salted hash (same draw idiom as
    ``stratified_sample``): ``h = md5(salt ':' id)`` 63-bit slice,
    ``shard = h mod n_shards``, within-shard position = rank of ``h``
    inside the shard.  Re-running with the same salt reproduces the
    exact layout (resumable writes); changing the salt is a fresh
    epoch-level reshuffle.

    Plan shape, chosen for 100 TB: one hash shuffle on ``shard`` and a
    per-shard sort — ``row_number() over (partition by shard order by
    h, id)`` — which is EXACTLY the physical work a shuffled writer
    must do anyway (``repartition(shard).sortWithinPartitions(h)``);
    shards are uniform by construction (hash-balanced), so the window
    never sees a skewed partition.  No global sort, no driver state.
    """
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt + ":"),
                       F.col(id_col).cast("string"))), 1, 15), 16, 10) \
        .cast("long")
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (df.withColumn("h", h)
            .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards))
                        .cast("int"))
            .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
            .drop("h"))


def epoch_mix(df: DataFrame, weights: dict[str, float],
              n_shards: int = 16, salt: str = "mix-v1",
              source_col: str = "source",
              id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted multi-source epoch mixing — the data-mixing
    recipe every pretraining run applies last (Pile table 1, LLaMA's
    per-source epoch counts): source ``s`` with weight ``w`` contributes
    ``floor(w)`` copies of every document plus one more copy with
    probability ``frac(w)``, and the resulting copy stream is laid out in
    content-stable shuffled order.  ``weights = {"wiki": 2.5, "cc": 0.67}``
    means every wiki doc appears 2 or 3 times per epoch (Bernoulli on the
    fractional part) and each cc doc survives with p=0.67.

    Determinism contract (shared with the split/sample family): the
    Bernoulli draw is :func:`~corpus_lab.operators.text_analysis.
    md5_draw32` (``md5(salt ':frac:' id)`` 32-bit slice vs the
    ``int(frac * 2**32)`` integer threshold — integer-exact in both
    engines), and the stream layout is the :func:`shuffle_into_shards`
    idiom keyed per COPY (``md5(salt ':' copy ':' id)`` 63-bit slice) so
    the copies of one document scatter across the epoch instead of
    training back-to-back.  Re-running with the same salt reproduces the
    exact epoch; a new salt is a fresh epoch (new Bernoulli outcomes AND
    a new order — exactly what multi-epoch training wants).

    Sources absent from ``weights`` (and NULL sources) get weight 1.0 —
    pass an explicit 0.0 to drop a source.  NULL ids are dropped (the
    md5_draw32 NULL-fails-every-comparison contract).  Output: one row
    per surviving copy — ``(id_col, source_col, copy, shard, pos)``.

    Plan shape at 100 TB: copy fan-out is a per-row ``sequence`` explode
    (no shuffle, bounded by ceil(max weight)); the only shuffle is the
    hash repartition on ``shard`` that the shuffled writer needs anyway,
    and the per-shard rank window is hash-balanced by construction.
    """
    wt = F.lit(1.0)
    for s, v in weights.items():
        wt = F.when(F.col(source_col) == s, F.lit(float(v))).otherwise(wt)
    flr = F.floor(wt).cast("int")
    # integer Bernoulli threshold: frac(w) * 2^32, floored — computed the
    # same way the oracle SQL embeds it, so the kept set is bit-equal.
    thr = (wt - flr) * F.lit(float(2 ** 32))
    draw = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt + ":frac:"),
                       F.col(id_col).cast("string"))), 1, 8), 16, 10) \
        .cast("long")
    copies = flr + F.when(draw < F.floor(thr).cast("long"), 1).otherwise(0)
    fanned = (df.select(id_col, source_col)
              .where(F.col(id_col).isNotNull())
              .withColumn("_copies", copies)
              .where(F.col("_copies") > 0)
              .withColumn("copy", F.explode(
                  F.sequence(F.lit(0), F.col("_copies") - 1)))
              .drop("_copies"))
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col("copy").cast("string"),
                       F.lit(":"), F.col(id_col).cast("string"))),
        1, 15), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy("h", id_col, "copy")
    return (fanned.withColumn("h", h)
            .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards))
                        .cast("int"))
            .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
            .drop("h"))
