"""Registry of the corpus operators: one query per operator over the
sf0.001 tables, and for every SQL-expressible one a bit-matched DuckDB
oracle (md5-based hashing everywhere so both engines agree exactly).

Same contract as the ingestion registry in ``__spark_entry__.py`` —
``queries()`` maps a name to ``fn(spark, sf_dir) -> DataFrame`` and
``oracle_sql()`` maps a name to its DuckDB SQL — over the operators in
``corpus_lab``; ``tests/test_oracle_parity.py`` runs both registries.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus_lab.operators.snm import snm_numkey_sql as _snm_numkey_sql


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC for timestamp-rendering queries.

    Timestamp RENDERING is session-timezone-dependent and happens at
    collect time, AFTER the query function returns — so the pin cannot be
    save/restored inside the function without changing the lazily-evaluated
    result.  Our own session factory already sets UTC (session.py), making
    this a no-op there; under a foreign harness session it is a defensive
    pin.  Always the same fixed value, so repeated calls never conflict.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------





















def q_publisher_stats(spark, sf_dir):
    """Skew-aware per-publisher stats via two-stage salted aggregation."""
    from corpus_lab.operators.skew import salted_agg
    d = _t(spark, sf_dir, "documents")
    out = salted_agg(d, "source",
                     {"doc_count": ("count", "*"), "total_chars": ("sum", "n_chars")},
                     n_salts=8)
    return out.select("source", F.col("doc_count").cast("long").alias("doc_count"),
                      F.col("total_chars").cast("long").alias("total_chars"))


def q_token_count(spark, sf_dir):
    from corpus_lab.operators.text_analysis import token_count
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return d.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))


def q_bpe_token_count(spark, sf_dir):
    from corpus_lab.operators.text_analysis import bpe_ish_token_count
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id",
                    bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"))


def q_lang_id(spark, sf_dir):
    from corpus_lab.operators.text_analysis import lang_id
    d = _t(spark, sf_dir, "documents")
    return lang_id(d, "text").select("doc_id", "pred_lang")


def q_quality_score(spark, sf_dir):
    from corpus_lab.operators.text_analysis import quality_features
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return quality_features(d, "text").select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "alpha_ratio", "stop_ratio", "quality_score")


def q_fingerprint(spark, sf_dir):
    from corpus_lab.operators.text_analysis import fingerprint
    d = _t(spark, sf_dir, "documents")
    d = d.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
    return fingerprint(d, "text", shingle_n=3).select("doc_id", "norm_fp", "min_shingle_fp")


def q_minhash_pairs(spark, sf_dir):
    """b=2 bands x r=2 rows: a candidate must share BOTH minhashes of some
    band — the S-curve knob that keeps hot-shingle cliques from exploding."""
    from corpus_lab.operators.text_dedup import minhash_candidate_pairs
    d = _t(spark, sf_dir, "documents")
    d = d.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
    return minhash_candidate_pairs(d, n_hashes=4, text_col="text",
                                   id_col="doc_id", shingle_n=2,
                                   rows_per_band=2)


def q_ngram_jaccard(spark, sf_dir):
    """LSH-then-verify (the scale path): exact n-gram Jaccard evaluated only
    on MinHash candidate pairs via array_intersect — no shingle-level join."""
    from corpus_lab.operators.text_dedup import (
        minhash_candidate_pairs, ngram_jaccard_pairs)
    d = _t(spark, sf_dir, "documents")
    d = d.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
    cand = minhash_candidate_pairs(d, n_hashes=4, text_col="text",
                                   id_col="doc_id", shingle_n=2,
                                   rows_per_band=2)
    return ngram_jaccard_pairs(d, threshold=0.2, text_col="text",
                               id_col="doc_id", shingle_n=2, candidates=cand)


def q_simhash(spark, sf_dir):
    from corpus_lab.operators.text_dedup import simhash16
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return simhash16(d, "text", "doc_id")


def q_cosine_topk(spark, sf_dir):
    """Brute-force ANN baseline: top-10 cosine vs the vec_id=0 embedding."""
    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = ed.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = F.aggregate(F.zip_with("v", "qv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    sq = lambda c: F.aggregate(F.transform(c, lambda x: x * x),  # noqa: E731
                               F.lit(0.0), lambda a, x: a + x)
    cos = dot / (F.sqrt(sq(F.col("v"))) * F.sqrt(sq(F.col("qv"))))
    return (
        ed.crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding near-dup pairs (brute-force verify, oracle-checkable).

    Norms are computed once per vector BEFORE the pair join (n sqrt's, not
    n²) — arithmetic identical to the oracle, just factored out of the join.

    Deliberately the SMALL-SCALE baseline: the input is capped at a fixed
    deterministic 1000 vectors (both here and in the oracle) so the O(n²)
    verify never grows with sf; the scale path is embedding_near_dup_lsh.
    The capped relation is the family-shared ``_cappedemb`` checkpoint."""
    e = _cappedemb(spark, sf_dir)
    sq = lambda c: F.aggregate(F.transform(c, lambda x: x * x),  # noqa: E731
                               F.lit(0.0), lambda a_, x: a_ + x)
    ed = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ed = ed.withColumn("norm", F.sqrt(sq(F.col("v"))))
    a = ed.select(F.col("vec_id").alias("a"), F.col("v").alias("va"),
                  F.col("norm").alias("norm_a"))
    b = ed.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"),
                  F.col("norm").alias("norm_b"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("norm_a") * F.col("norm_b"))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= 0.5)
        .select("a", "b", "cosine")
    )




def q_ann_lsh_topk(spark, sf_dir):
    """ANN scale path: LSH-bucketed multiprobe top-k.  Hyperplanes are
    seeded and embeddings cast to double, so the ENTIRE plan — signature
    bits, base bucket, smallest-|margin| multiprobe flips, bucket-pruned
    cosine top-k — is reproduced exactly by the DuckDB oracle with the
    same plane constants embedded (recall vs brute force is separately
    pytest-asserted)."""
    import numpy as np
    from corpus_lab.operators.similarity import lsh_bucket_topk
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]]
    return lsh_bucket_topk(e, qv, k=10, n_planes=8, multiprobe=4,
                           dtype=np.float64)


def q_ann_ivf_topk(spark, sf_dir):
    """ANN scale path #2: IVF cell-probed top-k with PINNED deterministic
    centroids (similarity.pinned_centroids) — cell assignment, probe
    selection, and cosine top-k all SQL-expressible, so this has a full
    DuckDB-oracle CORRECTNESS row.  The trained-centroid path (sampled
    spherical k-means) stays recall- and determinism-tested in pytest."""
    from corpus_lab.operators.similarity import ivf_topk, pinned_centroids
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]]
    return ivf_topk(e, qv, k=10, n_cells=16, n_probe=6,
                    centroids=pinned_centroids(64, 16))


def _pq_pinned():
    """One source for the pq_topk query's pinned inputs: float64
    codebooks (8 subspaces × 16 centroids × 8 dims, seed 13) and a
    seeded query vector — both the Spark wrapper and the generated
    DuckDB oracle read THESE arrays, so the literals can never drift."""
    import numpy as np
    from corpus_lab.operators.similarity import pinned_pq_codebooks
    cb = pinned_pq_codebooks(dim=64, m=8, k=16, seed=13)
    qv = [float(x) for x in np.random.RandomState(14).randn(64)]
    return cb, qv


def q_pq_topk(spark, sf_dir):
    """ANN scale path #3: product-quantization ADC top-k (similarity.
    pq_encode / pq_adc_topk) with PINNED codebooks — encode (per-subspace
    L2 argmin), the packed code_key, and the asymmetric-distance fold are
    all JVM expressions whose float64 fold order matches DuckDB's
    list_reduce, so the full plan has a DuckDB-oracle CORRECTNESS row.
    Trained codebooks (per-subspace sampled k-means) stay recall-tested
    in pytest."""
    from corpus_lab.operators.similarity import pq_adc_topk
    cb, qv = _pq_pinned()
    e = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(e, qv, cb, k=20)


def _pq_oracle_sql() -> str:
    from corpus_lab.operators.similarity import adc_lut
    cb, qv = _pq_pinned()
    m, k, dsub = cb.shape
    lut = adc_lut(qv, cb)

    def dlist(xs):
        return "[" + ", ".join(repr(float(x)) for x in xs) + "]"

    cb_rows = ",\n    ".join(
        f"({j}, [" + ", ".join(dlist(c) for c in cb[j]) + "]::DOUBLE[][])"
        for j in range(m))
    lut_lit = "[" + ", ".join(dlist(row) for row in lut) + "]::DOUBLE[][]"
    adist = (f"list_reduce(list_transform(range(0, {m}), "
             f"j -> lut[j + 1][codes[j + 1] + 1]), (a, b) -> a + b)")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb(j, cents) AS (VALUES
    {cb_rows}),
percell AS (
  SELECT vec_id, j, list_position(d, list_min(d)) - 1 AS code
  FROM (
    SELECT e.vec_id, cb.j,
           list_transform(cb.cents, c -> list_reduce(
             list_transform(range(1, {dsub + 1}), i ->
               (e.v[cb.j * {dsub} + i] - c[i])
               * (e.v[cb.j * {dsub} + i] - c[i])),
             (a, b) -> a + b)) AS d
    FROM e, cb)
),
codes AS (
  SELECT vec_id, list(code ORDER BY j) AS codes
  FROM percell GROUP BY vec_id
)
SELECT vec_id,
       CAST(list_reduce(list_transform(range(0, {m}),
              j -> CAST(codes[j + 1] AS BIGINT) << (j * 4)),
            (a, b) -> a + b) AS BIGINT) AS code_key,
       round({adist}, 6) AS pq_dist
FROM codes, (SELECT {lut_lit} AS lut)
ORDER BY {adist}, vec_id
LIMIT 20
"""


def q_semdedup(spark, sf_dir):
    """SemDedup (Abbas et al. 2023): cluster embeddings to the PINNED
    float64 centroids, rank members by centroid-cosine, and flag every
    vector whose cosine to a lower-ranked cluster-mate reaches eps —
    the paper's greedy upper-triangle sweep as ONE join plan (no
    iteration).  eps=0.25 is deliberately aggressive: the synthetic
    embeddings have no high-cosine near-dups (max within-cell ~0.53),
    and the oracle must exercise the drop branch, not just all-keep.
    Engine-new; reference analog: the seen-article dedup intent of
    src/cache/mod.rs, lifted to semantic space."""
    from corpus_lab.operators.semdedup import semdedup
    from corpus_lab.operators.similarity import pinned_centroids
    e = _t(spark, sf_dir, "embeddings")
    return semdedup(e, pinned_centroids(64, 16), eps=0.25)


def _semdedup_sql() -> str:
    """Mirror of q_semdedup: argmax-dot cell assignment against the pinned
    centroids (same CTE shape as _ann_ivf_sql), centroid-cosine rank with
    vec_id tiebreak, EXISTS-vs-lower-rank sweep at eps=0.25."""
    from corpus_lab.operators.similarity import pinned_centroids
    cents = pinned_centroids(64, 16)
    rows = ",\n    ".join(f"({c}, {_dlist(cents[c])})" for c in range(16))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent(cell, cv) AS (VALUES
    {rows}),
scored AS (SELECT e.vec_id, c.cell, list_dot_product(e.v, c.cv) AS d
           FROM e CROSS JOIN cent c),
assign AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d DESC, cell) AS rn
             FROM scored) WHERE rn = 1),
m AS (SELECT e.vec_id, a.cell, e.v,
             CASE WHEN sqrt(list_dot_product(e.v, e.v)) > 0
                  THEN list_dot_product(e.v, c.cv)
                       / sqrt(list_dot_product(e.v, e.v))
                  ELSE 0.0 END AS cent_cos
      FROM e JOIN assign a USING (vec_id) JOIN cent c ON a.cell = c.cell),
r AS (SELECT vec_id, cell, v, cent_cos,
             row_number() OVER (PARTITION BY cell
                                ORDER BY cent_cos DESC, vec_id) AS rnk
      FROM m),
dups AS (SELECT DISTINCT x.vec_id FROM r x JOIN r y
           ON x.cell = y.cell AND y.rnk < x.rnk
         WHERE (CASE WHEN sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(y.v, y.v)) > 0
                     THEN list_dot_product(x.v, y.v)
                          / (sqrt(list_dot_product(x.v, x.v))
                             * sqrt(list_dot_product(y.v, y.v)))
                     ELSE 0.0 END) >= 0.25)
SELECT r.vec_id, r.cell, round(r.cent_cos, 6) AS cent_cos,
       (d.vec_id IS NULL) AS keep
FROM r LEFT JOIN dups d ON r.vec_id = d.vec_id
"""


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    bag models over 256 buckets, target = lang='en' documents, raw = the
    whole corpus; per-doc log-likelihood-ratio weight folded in bucket
    order (the lm_score cross-engine contract), Gumbel top-50 selection
    with the content-stable md5 draw.  Engine-new training-data operator;
    every stage is a decomposable hash agg or a broadcast join."""
    from corpus_lab.operators.dsir import (
        bucket_log_ratio, dsir_select, dsir_weights, hashed_feature_counts,
    )
    d = _t(spark, sf_dir, "documents")
    raw = hashed_feature_counts(d, n_buckets=256)
    tgt = hashed_feature_counts(d.filter(F.col("lang") == "en"),
                                n_buckets=256)
    lr = bucket_log_ratio(tgt, raw, n_buckets=256, alpha=1.0)
    return dsir_select(dsir_weights(raw, lr), k=50, salt="dsir-v1")


_DSIR_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, g AS gram
  FROM (SELECT doc_id, unnest(list_filter(w, t -> t != '')) AS g FROM toks)
  UNION ALL
  SELECT doc_id, w[i + 1] || ' ' || w[i + 2]
  FROM toks, UNNEST(generate_series(0, len(w) - 2)) AS t(i)
  WHERE len(w) >= 2
),
counts AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 256
              AS INTEGER) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM grams GROUP BY 1, 2
),
tcounts AS (
  SELECT c.bucket, CAST(sum(c.n) AS BIGINT) AS tc
  FROM counts c JOIN documents d ON c.doc_id = d.doc_id
  WHERE d.lang = 'en' GROUP BY 1
),
rcounts AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS rc
            FROM counts GROUP BY 1),
tot AS (SELECT (SELECT sum(tc) FROM tcounts) AS ttot,
               (SELECT sum(rc) FROM rcounts) AS rtot),
lr AS (
  SELECT coalesce(t.bucket, r.bucket) AS bucket,
         ln((coalesce(t.tc, 0) + 1.0) / (tot.ttot + 256.0))
         - ln((coalesce(r.rc, 0) + 1.0) / (tot.rtot + 256.0)) AS logratio
  FROM tcounts t FULL JOIN rcounts r ON t.bucket = r.bucket, tot
),
w AS (
  SELECT c.doc_id,
         CAST(sum(c.n) AS BIGINT) AS n_features,
         list_aggregate(list(c.n * lr.logratio ORDER BY c.bucket),
                        'sum') AS weight
  FROM counts c JOIN lr ON c.bucket = lr.bucket
  GROUP BY c.doc_id
)
SELECT doc_id, n_features, round(weight, 6) AS weight
FROM w
ORDER BY weight + (-ln(-ln(
    (CAST('0x' || substr(md5('dsir-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)
          AS BIGINT) + 0.5) / 4294967296.0))) DESC,
  doc_id
LIMIT 50
"""


def q_bpe_pair_counts(spark, sf_dir):
    """The distributed core of BPE training (operators/bpe.py): adjacent
    symbol-pair counts over the distinct-word vocabulary relation,
    weighted by word frequency — the per-iteration aggregation whose
    argmax picks each merge.  The iterative trainer and the rank-greedy
    encoder stay pytest-locked against a pure-Python reference
    (test_bpe.py); this exposes the corpus-facing aggregation to the
    correctness gate.  Columns aliased l_sym/r_sym (LEFT/RIGHT
    are SQL keywords)."""
    from corpus_lab.operators.bpe import (
        pair_counts, with_symbols, word_counts,
    )
    d = _t(spark, sf_dir, "documents")
    pc = pair_counts(with_symbols(word_counts(d)))
    return pc.select(F.col("left").alias("l_sym"),
                     F.col("right").alias("r_sym"), "cnt")


_BPE_PAIRS_SQL = r"""
WITH wc AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents WHERE text IS NOT NULL)
  WHERE w != '' GROUP BY w
),
pairs AS (
  SELECT substr(word, i, 1) AS l_sym,
         CASE WHEN i = length(word) THEN '</w>'
              ELSE substr(word, i + 1, 1) END AS r_sym,
         n
  FROM wc, UNNEST(generate_series(1, length(word))) AS t(i)
)
SELECT l_sym, r_sym, CAST(sum(n) AS BIGINT) AS cnt
FROM pairs GROUP BY 1, 2
"""


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs: pigeonhole-banded equi-join (k = max_hamming+1
    bands; one must match exactly) + exact bit_count(XOR) verify.  Output is
    EXACTLY all pairs with hamming <= 3, so the small-scale oracle is a plain
    quadratic self-join — the Spark plan is never quadratic."""
    from corpus_lab.operators.text_dedup import simhash_near_dup_pairs
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return simhash_near_dup_pairs(d, max_hamming=3)


_CAPPEDEMB_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _cappedemb(spark, sf_dir):
    """Memoized ``vec_id < 1000`` embedding relation per (session,
    sf_dir), localCheckpoint'd once — the shared input of the brute-
    verify family (embedding_near_dup, hard_negatives, bitext_margin),
    same idiom and lifecycle as the dedup-family ``_sig60``.  Two
    wins: the sf-sized parquet scan + cap filter runs once instead of
    per query, and the checkpoint is REPARTITIONED by vec_id first —
    the pushed-down cap otherwise lands the whole 1000-row relation in
    ONE scan partition, so every downstream O(n^2) pair fold (a
    higher-order-function dot product, interpreted, not codegen'd) ran
    on a single core.  Row-level arithmetic is untouched, so the
    oracles are unaffected.  At a real corpus the equivalent is a
    staged temp table of the capped sample, not a lineage checkpoint."""
    global _CAPPEDEMB_CACHE
    import weakref
    if _CAPPEDEMB_CACHE is None:
        _CAPPEDEMB_CACHE = weakref.WeakKeyDictionary()
    per_session = _CAPPEDEMB_CACHE.setdefault(spark, {})
    capped = per_session.get(sf_dir)
    if capped is None:
        capped = (_t(spark, sf_dir, "embeddings")
                  .filter(F.col("vec_id") < 1000)
                  .repartition(spark.sparkContext.defaultParallelism,
                               "vec_id")
                  .localCheckpoint(eager=True))
        per_session[sf_dir] = capped
    return capped


_SIG60_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _sig60(spark, sf_dir):
    """Memoized 60-bit SimHash signature relation per (session, sf_dir),
    localCheckpoint'd once: the dedup family (near-dup report at radius 3,
    cluster resolution at radius 4) shares ONE tokenize+aggregate pass —
    the expensive half of pair mining — instead of recomputing it per
    query.  Keyed weakly on the session so a stopped session's entry
    never aliases a new one; values are signature-sized (one int64 row
    per doc), so pinning them is cheap at any corpus size that fits the
    cluster anyway."""
    global _SIG60_CACHE
    import weakref
    if _SIG60_CACHE is None:
        _SIG60_CACHE = weakref.WeakKeyDictionary()
    per_session = _SIG60_CACHE.setdefault(spark, {})
    sig = per_session.get(sf_dir)
    if sig is None:
        from corpus_lab.operators.text_dedup import simhash
        d = _t(spark, sf_dir, "documents").filter(
            F.length(F.trim("text")) > 0)
        sig = simhash(d, "text", "doc_id", n_bits=60) \
            .localCheckpoint(eager=True)
        per_session[sf_dir] = sig
    return sig


_PAIRS60H4_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _pairs60h4(spark, sf_dir):
    """Memoized hamming<=4 near-dup pair relation over the 60-bit
    signatures, localCheckpoint'd once per (session, sf_dir): BOTH
    cluster-resolution queries (min-id keeper and ranked keeper) consume
    the IDENTICAL pair graph, so the banding join + bit_count verify —
    the expensive half after the signatures — runs once, same rationale
    and lifecycle as _sig60.  Pairs are three ints per true near-dup,
    far smaller than the corpus."""
    global _PAIRS60H4_CACHE
    import weakref
    if _PAIRS60H4_CACHE is None:
        _PAIRS60H4_CACHE = weakref.WeakKeyDictionary()
    per_session = _PAIRS60H4_CACHE.setdefault(spark, {})
    pairs = per_session.get(sf_dir)
    if pairs is None:
        from corpus_lab.operators.text_dedup import simhash_near_dup_pairs
        d = _t(spark, sf_dir, "documents").filter(
            F.length(F.trim("text")) > 0)
        pairs = simhash_near_dup_pairs(
            d, max_hamming=4, n_bits=60, sig=_sig60(spark, sf_dir)
        ).select("a", "b").localCheckpoint(eager=True)
        per_session[sf_dir] = pairs
    return pairs


def q_simhash_wide_near_dup(spark, sf_dir):
    """Production-width SimHash near-dup: 60-bit signatures (15 md5 hex
    chars — the widest that stays a positive int64 in BOTH engines for a
    bit-exact oracle), hamming <= 3 via 4 pigeonhole bands of 15 bits.
    Same single-equi-join plan as the 16-bit demo; the signature relation
    is shared with q_dedup_clusters via _sig60."""
    from corpus_lab.operators.text_dedup import simhash_near_dup_pairs
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return simhash_near_dup_pairs(d, max_hamming=3, n_bits=60,
                                  sig=_sig60(spark, sf_dir))


def q_simhash128_near_dup(spark, sf_dir):
    """Web-scale SimHash width: 128-bit signature as 4 independent 32-bit
    band signatures (disjoint md5 hex slices — each band int64-oracle-
    safe), hamming <= 3 over the concatenated signature.  32-bit bands
    hold banding's birthday collisions to ~k*C(n,2)/2^32 — the 15-bit
    bands the int64 cap forces at this radius melted down at 50M docs
    (measured; see text_dedup.simhash_bands).  Oracle: brute-force pair
    scan over the same per-band signatures — deliberately NOT the banded
    plan, so completeness is checked against an independent route."""
    from corpus_lab.operators.text_dedup import simhash_bands_near_dup_pairs
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return simhash_bands_near_dup_pairs(d, max_hamming=3)


def _simhash_bands_sig_cte(band_bits: int = 32, n_bands: int = 4) -> str:
    """Shared DuckDB CTE chain ending in ``sig(doc_id, b0..b{n-1})`` —
    the per-band signatures of operators/text_dedup.simhash_bands."""
    hex_per = (band_bits + 3) // 4
    hashes = ",\n    ".join(
        f"CAST('0x' || substr(md5(tok), {1 + j * hex_per}, {hex_per}) AS BIGINT) AS h{j}"
        for j in range(n_bands))
    sums = ",\n    ".join(
        f"sum(CASE WHEN (h{j} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}_{i}"
        for j in range(n_bands) for i in range(band_bits))
    bands = ",\n    ".join(
        "CAST(" + " + ".join(
            f"(CASE WHEN s{j}_{i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(band_bits)) + f" AS BIGINT) AS b{j}"
        for j in range(n_bands))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
h AS (
  SELECT doc_id, {hashes} FROM toks
),
bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {bands} FROM bits)"""


def _simhash_bands_sql(band_bits: int = 32, n_bands: int = 4,
                       max_hamming: int = 3) -> str:
    ham = " + ".join(f"bit_count(xor(x.b{j}, y.b{j}))" for j in range(n_bands))
    return f"""
{_simhash_bands_sig_cte(band_bits, n_bands)}
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST({ham} AS INT) AS hamming
FROM sig x JOIN sig y ON x.doc_id < y.doc_id
WHERE {ham} <= {max_hamming}
"""


def q_simhash_band_census(spark, sf_dir):
    """Band-entropy census: the linear-cost pre-flight that sizes a banded
    near-dup join BEFORE it runs (per band: group count, hottest group,
    exact C(group,2) candidate contribution).  Exists because the measured
    50M-doc census beat uniform-hash birthday math by ~4 orders of
    magnitude on templated text (BENCH/BASELINE.md §50M) — at 100 TB you
    census first or you shuffle for days."""
    from corpus_lab.operators.text_dedup import (simhash_band_stats,
                                                     simhash_bands)
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return simhash_band_stats(simhash_bands(d))


def _simhash_band_census_sql(band_bits: int = 32, n_bands: int = 4) -> str:
    unpivot = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS band, b{j} AS band_val FROM sig"
        for j in range(n_bands))
    return f"""
{_simhash_bands_sig_cte(band_bits, n_bands)},
b AS (
{unpivot}
),
g AS (SELECT band, band_val, count(*) AS c FROM b GROUP BY 1, 2)
SELECT CAST(band AS INT) AS band,
       count(*) AS n_groups,
       max(c) AS max_group,
       CAST(sum(c * (c - 1) / 2) AS BIGINT) AS candidate_pairs
FROM g GROUP BY band
"""


def q_pii_redact(spark, sf_dir):
    """Corpus scrubbing: typed redaction of emails/IPs/phone runs with
    per-category counts.  The synthetic text is clean, so PII is injected
    deterministically JVM-side before redaction — the oracle injects and
    scrubs with the identical regex chain."""
    from corpus_lab.operators.text_analysis import redact_pii
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ds = F.col("doc_id").cast("string")
    salted = d.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.lit(" contact user"), ds, F.lit("@mail.example.org"),
                 F.when(F.col("doc_id") % 3 == 0,
                        F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
                                 F.lit(".7 tel +1 555-01"), F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                                 F.lit("-2345")))
                  .otherwise(F.lit(""))))
    out = redact_pii(salted)
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "clean_text")


def q_shard_packing(spark, sf_dir):
    """Training-shard packing via distributed prefix sum (two-phase:
    per-range-partition window cumsum + broadcast partition offsets) —
    byte-identical to the oracle's naive global window, but no stage ever
    forms a single global window partition."""
    from corpus_lab.operators.packing import pack_into_shards
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("n_tokens"))
    out = pack_into_shards(d, budget=50_000, order_col="doc_id",
                           tokens_col="n_tokens")
    return out.select("doc_id", F.col("prefix_sum"), "shard_id")


def q_corpus_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle into 16 training shards
    (operators/packing.py shuffle_into_shards): content-stable salted
    md5 permutation, shard = hash mod 16, within-shard position = hash
    rank.  The physical plan is exactly the shuffled-shard writer's
    work — one hash shuffle + per-shard sort, no global sort."""
    from corpus_lab.operators.packing import shuffle_into_shards
    d = _t(spark, sf_dir, "documents").select("doc_id")
    out = shuffle_into_shards(d, n_shards=16, salt="shuffle-v1")
    return out.select("doc_id", "shard", "pos")


def q_concat_chunk(spark, sf_dir):
    """Concat-and-split sequence packing: documents laid out on one
    global token axis (distributed two-phase prefix sum, no global
    window) and cut into fixed 4096-token context windows; one row per
    (window, document-slice) with within-doc and within-window offsets.
    Oracle: naive global-window cumsum + generate_series explosion."""
    from corpus_lab.operators.packing import concat_and_chunk
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("n_tokens"))
    return concat_and_chunk(d, chunk_tokens=4096, order_col="doc_id",
                            tokens_col="n_tokens")


def q_temperature_sample(spark, sf_dir):
    """Temperature-based mixture rebalancing (alpha=0.5): dominant
    sources thinned so expected kept counts follow n^alpha, smallest
    source kept in full; per-source kept stats.  The per-group keep
    threshold follows the 9-digit rounding contract so the DuckDB oracle
    reproduces the identical kept set."""
    from corpus_lab.operators.text_analysis import temperature_sample
    d = _t(spark, sf_dir, "documents")
    kept = temperature_sample(d, "source", alpha=0.5, id_col="doc_id",
                              salt="temp-v1")
    return (kept.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.sum("n_chars").cast("long").alias("kept_chars")))


def q_language_quota(spark, sf_dir):
    """Per-language quota selection: cap every language at its 15
    highest-quality documents (quality_score ties break on doc_id).
    Plans as WindowGroupLimit — hot languages never hold more than k
    rows per task during the rank."""
    from corpus_lab.operators.text_analysis import (
        quality_features,
        top_k_per_group,
    )
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    q = quality_features(d, "text")
    out = top_k_per_group(q, "lang", "quality_score", k=15)
    return out.select("lang", "doc_id", F.col("rank").cast("int").alias("rank"),
                      "quality_score")


def q_hll_distinct(spark, sf_dir):
    """From-scratch HyperLogLog distinct-text estimate per source (p=8,
    md5-hash contract): one partial-max register aggregation, nothing but
    <=256 rows per group ever shuffles.  The estimate is bit-reproducible
    across engines (integer harmonic sum, one literal/integer division),
    so the oracle replays it exactly; accuracy is pytest-asserted."""
    from corpus_lab.operators.sketch import hll_distinct
    d = _t(spark, sf_dir, "documents")
    return hll_distinct(d, "source", "text", p=8)


def q_pagerank(spark, sf_dir):
    """Power-iteration PageRank (3 iterations, d=0.85, dangling mass
    redistributed) over a deterministic link graph synthesized from
    documents: doc_id links to (doc_id*31 + j*97) % 1000 for
    j in 1..doc_id%4 (docs with doc_id%4 == 0 emit nothing and become
    dangling when linked).  9-digit per-iteration rounding contract; the
    oracle unrolls the same iterations."""
    from corpus_lab.operators.pagerank import pagerank
    d = _t(spark, sf_dir, "documents").filter(F.expr("doc_id % 4 > 0"))
    e = (d.select(F.col("doc_id").alias("src"),
                  F.explode(F.expr(
                      "sequence(1, CAST(doc_id % 4 AS INT))")).alias("j"))
         .select("src",
                 ((F.col("src") * 31 + F.col("j") * 97) % 1000).alias("dst")))
    return pagerank(e, iters=3, damping=0.85)


def q_length_histogram(spark, sf_dir):
    """Per-source doc-length histogram (20 integer-arithmetic bins over
    [0, 4000) chars): profiling pass before committing length filters.
    One map-side-combined hash agg; only |sources| x 20 rows shuffle."""
    from corpus_lab.operators.corpus_stats import histogram
    d = _t(spark, sf_dir, "documents")
    return histogram(d, "n_chars", 0, 4000, 20, "source")


def q_length_quantiles(spark, sf_dir):
    """Exact per-source doc-length quantiles (linear interpolation —
    probed bit-identical between Spark percentile and DuckDB
    quantile_cont on doubles)."""
    from corpus_lab.operators.corpus_stats import group_quantiles
    d = _t(spark, sf_dir, "documents")
    return group_quantiles(d, "source", "n_chars", [0.1, 0.5, 0.9, 0.99])


def q_sampled_quantiles(spark, sf_dir):
    """Quantile SKETCH per source (operators/corpus_stats.py
    sampled_quantiles): exact percentile over the deterministic
    bottom-16 md5-draw sample — the bounded-cost 100 TB path
    group_quantiles documents as its escape hatch, but cross-engine
    deterministic unlike approx_percentile (GK merge order depends on
    partitioning).  k=16 < group sizes at every SF, so the sampling
    branch is genuinely exercised; the oracle replays draw, rank, and
    quantile_cont exactly."""
    from corpus_lab.operators.corpus_stats import sampled_quantiles
    d = _t(spark, sf_dir, "documents")
    return sampled_quantiles(d, "source", "n_chars", [0.25, 0.5, 0.75],
                             k=16)


def q_heavy_hitters(spark, sf_dir):
    """Guaranteed corpus heavy hitters (operators/heavy_hitters.py):
    every token whose exact count exceeds n/(k+1), k=40 — mined by a
    per-partition Misra-Gries pass (at most k candidate rows leave each
    partition) and settled by an exact candidates-only recount, so the
    OUTPUT is deterministic and the oracle is a plain GROUP BY/HAVING:
    the sketch is pruning, never approximation."""
    from corpus_lab.operators.heavy_hitters import heavy_hitters
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    return heavy_hitters(toks, "token", k=40) \
        .select("token", F.col("cnt").cast("long").alias("cnt"))


def q_trending_counts(spark, sf_dir):
    """Window-over-window trend detection (operators/events.py
    trending_counts): smoothed count ratio per (window, event_type) vs
    the window exactly one hour earlier — observed gaps trend against 0,
    each key's first window is dropped.  The lag runs on the aggregated
    |keys| x |windows| relation, never the events; the oracle replays
    the time_bucket counts, the adjacency rule, and the fixed ratio
    tree."""
    from corpus_lab.operators.events import trending_counts
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    out = trending_counts(ev, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
         .alias("window_start_s"),
        "event_type", "n_events", "prev_events", "trend")


def q_sliding_passages(spark, sf_dir):
    """RAG-style retrieval chunking (operators/passages.py): per-document
    overlapping 16-token passages advancing by 8 — every token covered,
    the tail window clamped so no sub-stride duplicates, no passage
    crossing a document boundary.  One generator projection + explode,
    zero shuffle; the oracle replays the window rule positionally."""
    from corpus_lab.operators.passages import sliding_passages
    d = _t(spark, sf_dir, "documents")
    return sliding_passages(d, size=16, stride=8)


def q_sq_topk(spark, sf_dir):
    """Symmetric int8 scalar quantization (operators/quantize.py — the
    FAISS-SQ8-style rerank tier: 4x narrower scan than float32, per-dim
    resolution PQ gives up): top-10 by INTEGER code dot product against
    vec 0's codes.  Integer end-to-end — no float tolerance anywhere —
    so the oracle replays encode + dot + ranking exactly.  amax=0.6 is
    the pinned clip magnitude (pinned-centroid convention)."""
    from corpus_lab.operators.quantize import sq_dot_topk
    e = _t(spark, sf_dir, "embeddings")
    return sq_dot_topk(e, query_id=0, k=10, amax=0.6)


def q_script_profile(spark, sf_dir):
    """Unicode script profiling (operators/script_id.py): per-script
    character counts + dominant script — the deterministic script
    pre-segmentation multilingual pipelines run before language-ID.
    Non-Latin content is injected deterministically (doc_id % 7 routes
    to Cyrillic/CJK/Arabic fixtures) so every branch of the argmax is
    exercised; the oracle replays the injection, the RE2 character
    classes, and the first-wins tie order."""
    from corpus_lab.operators.script_id import script_profile
    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 1,
               F.lit("привет мир это проверка данных"))
        .when(F.col("doc_id") % 7 == 2, F.lit("機器學習 データ 分析 研究"))
        .when(F.col("doc_id") % 7 == 3, F.lit("مرحبا بالعالم اختبار"))
        .otherwise(F.col("text")).alias("text"))
    return script_profile(injected)


def q_cdc_shared_chunks(spark, sf_dir):
    """Shift-robust shared-passage index (operators/cdc.py
    cdc_shared_chunks): a 300-char passage is appended to every
    doc_id%6==1 document, so its interior content-defined chunks hash
    identically across all carriers after boundary resync; chunks of
    len>=24 appearing in >1 document surface with their carrier count.
    One map-side-combined hash agg over the chunk relation.  The oracle
    replays injection, anchors, slicing, and the aggregation."""
    from corpus_lab.operators.cdc import cdc_shared_chunks
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 6 == 1,
               F.concat(F.col("text"), F.lit(_CDC_SHARED_PASSAGE)))
         .otherwise(F.col("text")).alias("text"))
    return cdc_shared_chunks(aug, w=16, divisor=64, min_len=24)


def q_winnow_overlap(spark, sf_dir):
    """Local-overlap pair mining over winnowing fingerprints
    (operators/winnow.py winnow_overlap_pairs): every doc_id%4==1
    document gets a 22-token passage keyed by its doc_id div 8 block —
    exactly two docs per block share it (doc_id = 8k+1 and 8k+5), so
    they must share fingerprints (winnow guarantees any run >= w+k-1=6
    tokens fingerprints identically).  Fingerprints in more than
    max_df=50 docs are pruned as boilerplate BEFORE the self-join
    (bounded fan-out); pairs sharing >= 2 distinct hashes report.  The
    oracle replays injection, 3-grams, window minima, prune, and join."""
    from corpus_lab.operators.winnow import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 1,
               F.concat(F.col("text"), F.lit(_WINNOW_SHARED_TOKENS),
                        F.expr("cast(doc_id div 8 as string)")))
         .otherwise(F.col("text")).alias("text"))
    fps = winnow_fingerprints(aug, k=3, w=4)
    return winnow_overlap_pairs(fps, min_shared=2, max_df=50)


def q_blocklist_verdict(spark, sf_dir):
    """Per-document blocklist gate (operators/blocklist.py
    blocklist_verdict): total Aho-Corasick hits per doc + a boolean
    ``blocked`` (total > 0), zero-hit docs re-attached with
    blocked=false via a left join on the hit-sized relation (the base
    corpus is never shuffled into the agg).  Same pinned phrase list as
    blocklist_scan; the oracle replays raw-substring counting and the
    left-join re-attachment."""
    from corpus_lab.operators.blocklist import blocklist_verdict
    d = _t(spark, sf_dir, "documents")
    return blocklist_verdict(
        d, ["table table", "hash value", "scan slow", "customer query"],
        max_hits=0)


_QGATE_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _qgate(spark, sf_dir):
    """Memoized audit-mode quality_gate relation per (session, sf_dir),
    localCheckpoint'd once — BOTH gate queries (per-doc audit and the
    reason histogram) consume the identical fused projection, whose
    dup-gram scan is the expensive half (~5 s each at sf0.1, paid once
    here).  Same idiom/lifecycle as _sig60/_cappedemb; rows are one
    short audit tuple per doc."""
    global _QGATE_CACHE
    import weakref
    if _QGATE_CACHE is None:
        _QGATE_CACHE = weakref.WeakKeyDictionary()
    per_session = _QGATE_CACHE.setdefault(spark, {})
    g = per_session.get(sf_dir)
    if g is None:
        from corpus_lab.operators.quality_gate import quality_gate
        d = _t(spark, sf_dir, "documents")
        g = quality_gate(d, "text", min_tokens=5, max_tokens=10_000,
                         max_dup_gram_frac=0.5, min_quality=0.3,
                         keep_rejects=True) \
            .localCheckpoint(eager=True)
        per_session[sf_dir] = g
    return g


def q_gate_reason_counts(spark, sf_dir):
    """Quality-gate operability histogram (operators/quality_gate.py
    gate_reason_counts): one row per reject_reason with count and
    corpus share — the drift alarm for a new crawl batch's rejection
    mix.  One hash agg + an in-plan broadcast 1-row total (no driver
    count).  The oracle wraps the full quality_gate replay and
    re-derives the shares."""
    from corpus_lab.operators.quality_gate import gate_reason_counts
    return gate_reason_counts(_qgate(spark, sf_dir))


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (operators/winnow.py — the MOSS local
    fingerprinting scheme): per window of w=4 consecutive 3-gram 60-bit
    hashes keep the minimum (rightmost tie), guaranteeing any shared
    token run >= w+k-1 shares a fingerprint at ~2/(w+1) storage density.
    One codegen'd projection, zero shuffle; the oracle replays windows
    positionally with a struct-min."""
    from corpus_lab.operators.winnow import winnow_fingerprints
    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, k=3, w=4)


def q_kn_bigram_probs(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM (operators/kn_lm.py): the
    KenLM-family estimator behind production perplexity filters —
    absolute discounting D = n1/(n1+2*n2) with continuation-probability
    backoff — trained in a constant number of hash aggregations; the
    probability is a fixed-tree per-row double expression, so the oracle
    replays it bit-identically."""
    from corpus_lab.operators.kn_lm import kn_bigram_probs
    d = _t(spark, sf_dir, "documents")
    return kn_bigram_probs(d)


def q_char_entropy(spark, sf_dir):
    """Order-0 character-entropy quality signal (operators/cleaning.py):
    Shannon entropy of the per-character distribution — the standard
    cheap detector for padding/mash/base64 outliers that ratio features
    miss.  One codegen'd projection, zero shuffle; the p*log2(p) terms
    fold in sorted-character order (the ewma/lm_score pinned-fold
    contract), so the oracle replays the float sum bit-identically via
    list_reduce over the same sorted term list."""
    from corpus_lab.operators.cleaning import char_entropy
    d = _t(spark, sf_dir, "documents")
    return char_entropy(d)


def q_mojibake_repair(spark, sf_dir):
    """Mojibake (UTF-8-as-Latin-1 damage) detection + repair
    (operators/cleaning.py) — the ftfy-style pinned-mapping subset as a
    literal replace chain, counted by ONE regexp over the key
    alternation.  Artifacts are injected deterministically (doc_id % 5
    routes two damage fixtures) so both the count and every mapping
    entry are exercised; the oracle replays the injection, the RE2
    count, and the ordered replace chain from the SAME single-sourced
    MOJIBAKE_MAP."""
    from corpus_lab.operators.cleaning import mojibake_repair
    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 1,
               F.concat(F.lit("Itâ€™s â€œbrokenâ€¦ cafÃ© Ã¼ber "),
                        F.col("text")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("rÃ©sumÃ© â€“ faÃ§ade Â«"), F.col("text"),
                       F.lit("Â»")))
        .otherwise(F.col("text")).alias("text"))
    return mojibake_repair(injected)


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (operators/cdc.py — Manber anchors,
    USENIX '94): cut where the 60-bit md5 key of the local 16-gram is
    0 mod 64, so boundaries survive insertions and near-identical
    document versions re-share chunk hashes past an edit (the property
    fixed-size chunk_dedup lacks; insertion-resync pytest-locked).  One
    projection + explode, zero shuffle; the oracle replays the anchor
    predicate and chunk slicing positionally."""
    from corpus_lab.operators.cdc import cdc_chunks
    d = _t(spark, sf_dir, "documents")
    return cdc_chunks(d, w=16, divisor=64)


def q_cdc_chunks_gear(spark, sf_dir):
    """Gear-hash CDC (operators/cdc.py — the throughput path): same
    exact-coverage chunk contract as cdc_chunks, but the anchor
    predicate is the low-bits residue of the classic gear rolling hash
    (h = (h<<1) + G[c]), which depends only on the trailing 6-char
    window — the anchor scan vectorizes to six numpy shift-adds per doc
    instead of an md5 per position (measured 5.7x at 1M docs).  The
    kernel emits ONLY anchor positions; slicing + hashing share the
    md5-variant's JVM back half.  The oracle replays the pinned GEAR
    table (derived, single-sourced) positionally."""
    from corpus_lab.operators.cdc import cdc_chunks_gear
    d = _t(spark, sf_dir, "documents")
    return cdc_chunks_gear(d, divisor=64)


def q_cdc_revision_pairs(spark, sf_dir):
    """Revision/re-crawl detection via shared content-defined chunks
    (operators/cdc.py): revised copies are injected deterministically
    (doc_id%10==3 docs get a +100000 twin with a sentence INSERTED at
    char 200 — the exact edit that destroys fixed-size chunk sharing),
    then pairs sharing >=3 chunks of len>=24 are mined through the
    df<=4-pruned inverted chunk index.  1M-doc probe: recall
    9,999/10,000, zero spurious.  The oracle replays injection,
    chunking, prune, and join."""
    from corpus_lab.operators.cdc import cdc_revision_pairs
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    edited = (d.filter(F.col("doc_id") % 10 == 3)
              .select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat(F.expr("substring(text, 1, 200)"),
                               F.lit(" inserted edit marker "),
                               F.expr("substring(text, 201, length(text))"))
                      .alias("text")))
    return cdc_revision_pairs(d.unionAll(edited), w=16, divisor=64,
                              min_len=24, min_shared=3, max_df=4)


def q_dedup_audit(spark, sf_dir):
    """LSH dedup-quality audit (operators/audit.py): the b×r tuning
    verdict — banding precision over every emitted candidate (exact
    Jaccard confined to candidates) and a recall estimate from exact
    all-pairs ground truth on the deterministic doc_id%5 sample.  Counts
    are exact integers; the oracle recomposes the established minhash
    banding + shingle CTEs (precision leg compares the same rounded
    jaccard the operator thresholds on)."""
    from corpus_lab.operators.audit import lsh_dedup_audit
    d = _t(spark, sf_dir, "documents")
    return lsh_dedup_audit(d, threshold=0.4, sample_mod=5,
                           n_hashes=4, rows_per_band=2)


def q_skew_profile(spark, sf_dir):
    """Key-skew diagnosis (operators/skew.py::skew_profile) — per-key
    share + cumulative share in deterministic (count desc, key asc)
    rank order: the number that decides whether salted_join/salted_agg
    is needed before a stage stalls on one reducer.  One hash agg over
    the corpus; the window runs on the keys-sized relation only."""
    from corpus_lab.operators.skew import skew_profile
    d = _t(spark, sf_dir, "documents")
    return skew_profile(d, "source")


def q_table_stats(spark, sf_dir):
    """ANALYZE-style column statistics (operators/audit.py): per-column
    rows/nulls/NDV/min/max in ONE scan (all aggregates in a single
    groupBy-less agg, unpivoted by an explode) — the numbers that drive
    partition layout, broadcast thresholds, and skew diagnosis; HLL NDV
    is the one-pass 100 TB path, exact NDV here so the oracle compares
    integers."""
    from corpus_lab.operators.audit import table_column_stats
    d = _t(spark, sf_dir, "documents")
    return table_column_stats(d)


def q_blocklist_scan(spark, sf_dir):
    """Phrase-blocklist scan (operators/blocklist.py): every occurrence
    of every blocklist phrase — overlaps and nested phrases included —
    found by ONE from-scratch Aho-Corasick pass per document
    (kernel/acmatch.py) inside a single shuffle-free Arrow stage; output
    is hit-sized.  The DuckDB oracle replays raw-substring semantics
    positionally (generate_series + substr), so the automaton's failure
    and output links are checked against an implementation-free spec."""
    from corpus_lab.operators.blocklist import blocklist_hits
    d = _t(spark, sf_dir, "documents")
    return blocklist_hits(
        d, ["table table", "hash value", "scan slow", "customer query"])


def q_uniform_sample(spark, sf_dir):
    """Deterministic uniform 5-sample per source by the content-stable
    md5 draw (WindowGroupLimit rank) — the inspection-sample pull that
    stays identical across runs/engines/partitionings."""
    from corpus_lab.operators.corpus_stats import uniform_sample_k
    d = _t(spark, sf_dir, "documents")
    return uniform_sample_k(d, "source", 5).select("source", "doc_id")


def q_pmi_pairs(spark, sf_dir):
    """Top-50 word pairs by PMI within a ±3-token window (collocation /
    boilerplate-glue mining).  Pair generation is a JVM nested-transform
    generator — no self-join of the corpus-sized position table."""
    from corpus_lab.operators.corpus_stats import pmi_pairs
    d = _t(spark, sf_dir, "documents")
    return pmi_pairs(d, window=3, min_count=5, top_n=50)


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted 5-sample per source WITHOUT replacement
    (Efraimidis-Spirakis exponential jitter, weight = n_chars): longer
    docs proportionally likelier, same rows every run/engine/
    partitioning; WindowGroupLimit rank like the uniform sampler."""
    from corpus_lab.operators.corpus_stats import weighted_sample_k
    d = _t(spark, sf_dir, "documents")
    return weighted_sample_k(d, "source", "n_chars", k=5) \
        .select("source", "doc_id")


def q_rollup_counts(spark, sf_dir):
    """Hierarchical (source, lang) subtotals in ONE rollup aggregation
    pass — per-(source,lang), per-source, and grand-total rows, subtotal
    levels marked '<all>'."""
    from corpus_lab.operators.corpus_stats import rollup_counts
    d = _t(spark, sf_dir, "documents")
    return rollup_counts(d, ["source", "lang"], "n_chars")


def q_pivot_counts(spark, sf_dir):
    """source x language cross-tab with a PINNED column set (explicit
    pivot values: no discovery pass, schema-stable output)."""
    from corpus_lab.operators.corpus_stats import pivot_counts
    d = _t(spark, sf_dir, "documents")
    return pivot_counts(d, "source", "lang", ["de", "en", "es", "fr", "zh"])


def q_ewma(spark, sf_dir):
    """Per-user exponentially-weighted moving average of the event value
    series (alpha=0.3), folded in event-time order — the recursive
    definition itself, replayed verbatim by DuckDB's list_reduce; one
    shuffle, all JVM."""
    from corpus_lab.operators.events import ewma_latest
    e = _t(spark, sf_dir, "events")
    return ewma_latest(e, alpha=0.3)


def q_snapshot_diff(spark, sf_dir):
    """Incremental corpus versioning: diff two deterministic snapshot
    views of documents (old drops doc_id%10==0, new drops %7==0 and
    edits text on %13==0) into added/removed/changed ids — the delta an
    incremental re-embed/re-dedup/index-refresh consumes.  One
    column-pruned hash per side + one full-outer id join, delta-sized
    output."""
    from corpus_lab.operators.snapshot import snapshot_diff
    d = _t(spark, sf_dir, "documents")
    old = d.filter("doc_id % 10 != 0")
    new = (d.filter("doc_id % 7 != 0")
           .withColumn("text",
                       F.when(F.expr("doc_id % 13 = 0"),
                              F.concat(F.col("text"), F.lit(" [v2]")))
                       .otherwise(F.col("text"))))
    return snapshot_diff(old, new)


def q_dataset_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (reproducible under
    reruns, repartitioning, and corpus growth — unlike randomSplit) plus
    per-split corpus stats."""
    from corpus_lab.operators.text_analysis import assign_split
    d = _t(spark, sf_dir, "documents")
    return (assign_split(d, "doc_id", val_frac=0.1, test_frac=0.1)
            .groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 tf-idf terms per doc: per-doc-distinct explode for df counts
    (no countDistinct shuffle), broadcast idf join, WindowGroupLimit
    top-k.  idf = ln((N+1)/(df+1)) + 1, ties broken on token order."""
    from corpus_lab.operators.text_analysis import tfidf_top_terms
    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=3)


def q_pdf_parse(spark, sf_dir):
    """North-rule "PDF/layout parse": synthesize a real single-page PDF per
    document (every other one genuinely Flate-compressed), then extract the
    text back with the from-scratch PDF kernel (stream discovery, zlib
    inflate, BT/Tj/TJ/T* content operators, PDF string escapes).  The
    oracle is the identity projection — any parse defect breaks the
    round trip."""
    from corpus_lab.operators.pdf_text import (
        extract_pdf_text_df, synth_pdf_documents)
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pdfs = synth_pdf_documents(d, "text", "doc_id")
    out = extract_pdf_text_df(pdfs, "payload", "doc_id")
    return out.filter(F.col("status") == "ok").select("doc_id", "text")


_COMP60H4_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _comp60h4(spark, sf_dir):
    """Memoized connected-component labeling (node, comp) over the
    hamming<=4 pair graph, localCheckpoint'd once per (session, sf_dir):
    BOTH keeper policies (min-id and ranked) consume the identical
    labeling, so the iterative CC fixpoint — the expensive half after
    the pair mining — runs once.  Same lifecycle as _sig60/_pairs60h4;
    the labeling is node-sized (two ints per doc)."""
    global _COMP60H4_CACHE
    import weakref
    if _COMP60H4_CACHE is None:
        _COMP60H4_CACHE = weakref.WeakKeyDictionary()
    per_session = _COMP60H4_CACHE.setdefault(spark, {})
    comp = per_session.get(sf_dir)
    if comp is None:
        from corpus_lab.operators.components import connected_components
        d = _t(spark, sf_dir, "documents").filter(
            F.length(F.trim("text")) > 0)
        comp = connected_components(
            d.select("doc_id"), _pairs60h4(spark, sf_dir), "doc_id"
        ).localCheckpoint(eager=True)
        per_session[sf_dir] = comp
    return comp


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: connected components (iterative
    min-label propagation, one shuffle per round, localCheckpoint'd) over
    the 60-bit SimHash hamming<=4 pair graph (5 pigeonhole bands of 12
    bits — 2^-12 per-band collision keeps candidates linear-ish; wider
    radii need more bands of fewer bits and go quadratic), with keeper
    selection.  Signatures, pair graph, and component labels are each
    computed once per bench run (_sig60 / _pairs60h4 / _comp60h4 memos).
    Oracle: DuckDB recursive CTE over the identical pair set."""
    from corpus_lab.operators.components import dedup_clusters
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    pairs = _pairs60h4(spark, sf_dir)
    return dedup_clusters(d, pairs, "doc_id",
                          components=_comp60h4(spark, sf_dir))


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Embedding near-dup SCALE path: random-hyperplane LSH bucket as the
    equi-join key, quadratic cosine verify confined to within-bucket pairs.
    Seeded double-precision hyperplanes make the bucketing deterministic,
    so the DuckDB oracle replays the same banding + verify exactly (recall
    vs the brute-force baseline stays pytest-asserted)."""
    import numpy as np
    from corpus_lab.operators.similarity import embedding_near_dup_pairs
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    return embedding_near_dup_pairs(e, threshold=0.5, dim=64, n_planes=8,
                                    vec_col="embedding", id_col="vec_id",
                                    dtype=np.float64)






def q_sessionize(spark, sf_dir):
    """Window-function surface: gap-based sessionization over the events
    table (lag + running sum, one shuffle on user_id)."""
    from corpus_lab.operators.events import session_stats
    _utc(spark)
    e = _t(spark, sf_dir, "events")
    return session_stats(e, gap_secs=1800)


def q_latest_event(spark, sf_dir):
    """Changelog compaction: latest event per user via row_number()=1
    (Catalyst rewrites to a per-partition top-k)."""
    from corpus_lab.operators.events import latest_event_per_user
    _utc(spark)
    e = _t(spark, sf_dir, "events")
    return latest_event_per_user(e).select(
        "user_id", "event_id", "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"))






def q_multimodal_features(spark, sf_dir):
    """Multimodal decode, oracle-checked: REAL PPM/WAV decode of the
    deterministic synth payloads, reduced to integer-exact stats (payload
    bytes, decoded image dims + exact pixel-byte sum, audio sample count +
    rate) that a DuckDB oracle re-derives from the synthesis rule — so a
    wrong decode of ANY pixel/sample byte breaks the hash.  The feature
    extractor runs too and must agree on what decoded (``decoded_f``);
    its float32 vectors stay pytest-verified (float32 summation order is
    not SQL-reproducible)."""
    from corpus_lab.operators.multimodal import (
        decode_stats,
        extract_features,
        synth_media,
    )
    d = _t(spark, sf_dir, "documents")
    media = synth_media(d)
    stats = decode_stats(media)
    feats = extract_features(media).select(
        "media_id", (F.element_at("feature", 1) >= 1.0).alias("decoded_f"))
    out = stats.join(feats, "media_id")
    # not-applicable stats -> -1 sentinels: NULLs in value columns break
    # row-tuple sorting in comparators when the leading columns tie
    return out.select(
        "media_id", "kind", "n_bytes", "decoded",
        *[F.coalesce(F.col(c), F.lit(-1).cast(t)).alias(c)
          for c, t in [("width", "int"), ("height", "int"),
                       ("px_sum", "bigint"), ("n_samples", "int"),
                       ("sample_rate", "int")]],
        "decoded_f")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition: top/duplicate bigram fractions
    (quality filter for boilerplate-heavy web pages)."""
    from corpus_lab.operators.text_analysis import repetition_stats
    d = _t(spark, sf_dir, "documents")
    # no rounding: both engines divide the same exact integer counts, so
    # the doubles are bit-identical (same trick as tfidf_top_terms)
    return repetition_stats(d, "text", "doc_id", n=2)


def q_chunk_dedup(spark, sf_dir):
    """Corpus-level duplicate-chunk removal (ExactSubstr-lite): first
    corpus-wide occurrence of each 20-word chunk survives, text rebuilt.
    Returns per-doc surviving char counts (the full clean_text is
    hash-compared via its length + md5)."""
    from corpus_lab.operators.text_dedup import dedup_chunks
    d = _t(spark, sf_dir, "documents")
    out = dedup_chunks(d, "text", "doc_id", chunk_words=20)
    return out.select(
        "doc_id",
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5("clean_text").alias("clean_md5"))


_C4_BOILER = [
    "subscribe to our newsletter for daily updates",
    "all rights reserved by the publisher",
    "click here to read the full story",
]


def q_span_dedup(spark, sf_dir):
    """C4 three-sentence-span dedup (operators/text_dedup.py
    dedup_spans; Raffel et al. 2020 §2.2): the synth corpus has no
    sentence structure and its 50M contents are all distinct, so a
    deterministic layout is built JVM-side — 7-word sentences, with a
    shared 3-sentence boilerplate header prepended to every doc_id%7==0
    document.  The first such doc corpus-wide keeps the header; every
    later one loses exactly those three sentences.  Returns per-doc
    surviving char counts (clean_text hash-compared via length + md5,
    same contract as chunk_dedup)."""
    from corpus_lab.operators.text_dedup import dedup_spans
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.split(F.trim("text"), r"\s+")
    body = F.expr(
        "transform(sequence(0, (size(w) - 1) div 7), "
        "i -> array_join(slice(w, i * 7 + 1, 7), ' '))")
    boiler = F.array(*[F.lit(x) for x in _C4_BOILER])
    docs = (d.select("doc_id", w.alias("w"))
             .filter(F.size("w") > 0)
             .select("doc_id",
                     F.when(F.col("doc_id") % 7 == 0,
                            F.concat(boiler, body))
                      .otherwise(body).alias("sentences")))
    out = dedup_spans(docs, "sentences", "doc_id", span=3)
    return out.select(
        "doc_id",
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5("clean_text").alias("clean_md5"))


_ES_HEADER = ("breaking news update from our central desk stay informed "
              "with the latest headlines delivered every morning to your "
              "inbox free")          # 20 tokens
_ES_FOOTER = ("copyright twenty twenty four all rights reserved worldwide "
              "syndication network")  # 10 tokens


def q_exact_substring_spans(spark, sf_dir):
    """Full ExactSubstr duplicated-span mining (operators/text_dedup.py
    duplicated_gram_spans; Lee et al. 2022 §4 semantics at k=8 without
    the suffix array): a 20-token boilerplate header is prepended to
    every doc_id%7==0 document and a 10-token footer appended to every
    doc_id%5==0 document JVM-side (the synth contents are distinct, so
    these plant the only duplicated runs).  The corpus-wide first
    occurrence of each gram is exempt; every other copy must come back
    as ONE maximal merged span per contiguous duplicated region —
    including the two-span case on doc_id%35==0 documents and spans at
    arbitrary (non-chunk-aligned) offsets, the dedup_chunks blind spot.
    Returns (doc_id, span_start, span_end, span_len, n_grams)."""
    from corpus_lab.operators.text_dedup import duplicated_gram_spans
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    aug = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.when(F.col("doc_id") % 7 == 0, F.lit(_ES_HEADER)),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(_ES_FOOTER)),
        ).alias("text"))
    return duplicated_gram_spans(aug, "text", "doc_id", k=8)


_PARA_BOILER = "follow us on social media for breaking news and updates"

# ~300 chars so the appended passage contains interior CDC anchors
# (expected chunk length 64) that re-share across carriers
_CDC_SHARED_PASSAGE = (
    " the council convened at dawn to review the flood defenses along the"
    " northern embankment and agreed to publish the full engineering"
    " assessment before the next session so residents could compare the"
    " projected water levels against the revised evacuation routes and"
    " file objections within thirty days")

_WINNOW_SHARED_TOKENS = (
    " shared passage alpha beta gamma delta epsilon zeta eta theta iota"
    " kappa lambda mu nu xi omicron pi rho sigma tau upsilon block ")


def q_boilerplate_filter(spark, sf_dir):
    """CCNet/RefinedWeb-style frequency-threshold boilerplate removal
    (operators/text_dedup.py remove_frequent_sentences), domain-scoped:
    deterministic 5-word sentence layout, a GLOBAL boilerplate sentence
    prepended to every doc_id%3==0 doc (crosses sources — removed only
    inside sources where it tops the per-source threshold) and a
    per-source footer ("read more at <source>") appended to every
    doc_id%7==0 doc.  Any sentence in more than 2 distinct docs of the
    SAME source is dropped from every one of them — including the first
    occurrence, the exact point where this differs from
    paragraph_dedup's keeper convention.  Returns per-doc clean_len +
    clean_md5 + n_kept (same compare contract as paragraph_dedup)."""
    from corpus_lab.operators.text_dedup import remove_frequent_sentences
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.split(F.trim("text"), r"\s+")
    body = F.expr(
        "transform(sequence(0, (size(w) - 1) div 5), "
        "i -> array_join(slice(w, i * 5 + 1, 5), ' '))")
    docs = (d.select("doc_id", "source", w.alias("w"))
             .filter(F.size("w") > 0)
             .select("doc_id", "source", body.alias("body"))
             .select("doc_id", "source",
                     F.when(F.col("doc_id") % 3 == 0,
                            F.concat(F.array(F.lit(_PARA_BOILER)),
                                     F.col("body")))
                      .otherwise(F.col("body")).alias("s0"))
             .select("doc_id", "source",
                     F.when(F.col("doc_id") % 7 == 0,
                            F.concat("s0", F.array(
                                F.concat(F.lit("read more at "),
                                         F.lower("source")))))
                      .otherwise(F.col("s0")).alias("sentences")))
    out = remove_frequent_sentences(docs, "sentences", "doc_id",
                                    group_col="source", max_doc_freq=2)
    return out.select(
        "doc_id",
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5("clean_text").alias("clean_md5"),
        F.col("n_kept"))


def q_paragraph_dedup(spark, sf_dir):
    """Dolma/RedPajama-v2-style exact paragraph dedup
    (operators/text_dedup.py dedup_paragraphs): deterministic paragraph
    layout built JVM-side — 5-word paragraphs, a shared boilerplate
    footer appended to every doc_id%5==0 document (the cross-document
    path: the first occurrence corpus-wide keeps it, every later one
    loses it) and the first body paragraph repeated at the end of every
    doc_id%11==0 document (the within-document repeat path).  Returns
    per-doc surviving char counts (clean_text compared via length + md5,
    same contract as span_dedup/chunk_dedup)."""
    from corpus_lab.operators.text_dedup import dedup_paragraphs
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    w = F.split(F.trim("text"), r"\s+")
    body = F.expr(
        "transform(sequence(0, (size(w) - 1) div 5), "
        "i -> array_join(slice(w, i * 5 + 1, 5), ' '))")
    docs = (d.select("doc_id", w.alias("w"))
             .filter(F.size("w") > 0)
             .select("doc_id", body.alias("body"))
             .select("doc_id",
                     F.when(F.col("doc_id") % 5 == 0,
                            F.concat("body",
                                     F.array(F.lit(_PARA_BOILER))))
                      .otherwise(F.col("body")).alias("p0"),
                     F.element_at("body", 1).alias("first_para"))
             .select("doc_id",
                     F.when(F.col("doc_id") % 11 == 0,
                            F.concat("p0", F.array(F.col("first_para"))))
                      .otherwise(F.col("p0")).alias("paragraphs")))
    out = dedup_paragraphs(docs, "paragraphs", "doc_id")
    return out.select(
        "doc_id",
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5("clean_text").alias("clean_md5"))


def q_dedup_keep_best(spark, sf_dir):
    """Quality-ranked survivor selection (operators/components.py
    dedup_clusters_ranked): connected components over the 60-bit SimHash
    hamming<=4 pair graph (the pair relation itself shared with
    dedup_clusters via the _pairs60h4 memo, signatures via _sig60),
    keeper = the LONGEST
    member per cluster, ties broken by min doc_id — the
    BigCode/SantaCoder keep-longest policy — instead of dedup_clusters'
    min-id convention.  The per-cluster argmax is a hash agg
    (max(struct(rank, -id))), never a window sort over a hot cluster.
    Oracle: DuckDB recursive CTE + per-component row_number window."""
    from corpus_lab.operators.components import dedup_clusters_ranked
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    pairs = _pairs60h4(spark, sf_dir)
    ranked = d.withColumn("rank_len", F.length("text").cast("long"))
    return dedup_clusters_ranked(ranked, pairs, "rank_len", "doc_id",
                                 components=_comp60h4(spark, sf_dir))


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 100 != 0)
    sharing any n-gram with the benchmark slice (doc_id % 100 == 0).
    n=4 here (vs the PaLM default 8) because the synthetic small-vocab
    corpus has zero 8-gram collisions — n=4 exercises the join with a
    non-empty, selective result."""
    from corpus_lab.operators.text_dedup import contamination_check
    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 100 != 0)
    bench = d.filter(F.col("doc_id") % 100 == 0)
    return contamination_check(train, bench, "text", "doc_id", n=4)


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source data-mix sampling (keep 100% of src0,
    50% of src1, 25% of src2, 10% elsewhere) + per-source kept stats."""
    from corpus_lab.operators.text_analysis import stratified_sample
    d = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        d, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1, id_col="doc_id", salt="mix-v1")
    return (kept.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.sum("n_chars").cast("long").alias("kept_chars")))


def _messy_url() -> F.Column:
    """Deterministic messy-URL synthesis over documents (mixed case,
    default ports, fragments, tracking params, blocked domains, badwords,
    non-http schemes) — mirrored verbatim in the oracle SQL."""
    did = F.col("doc_id")
    ds = did.cast("string")
    src = F.col("source")
    return (
        F.when(did % 11 == 0,
               F.concat(F.lit("https://spam.example.com/p/"), ds))
         .when(did % 13 == 0,
               F.concat(F.lit("https://"), src,
                        F.lit(".example.org/casino/"), ds))
         .when(did % 7 == 0,
               F.concat(F.lit("HTTP://"), F.upper(src),
                        F.lit(".Example.COM:80/A/"), ds,
                        F.lit("?utm_source=rss&z=9&a=1#top")))
         .when(did % 3 == 0,
               F.concat(F.lit("https://"), src, F.lit(".example.org/a/"),
                        ds, F.lit("?utm_campaign=x&b=2")))
         .when(did % 5 == 0,
               F.concat(F.lit("ftp://files.example.org/"), ds))
         .otherwise(F.concat(F.lit("https://"), src,
                             F.lit(".example.org/a/"), ds))
    )


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization + C4-style URL filtering over synthesized
    messy crawl URLs (case/port/fragment/tracking-param normalization,
    blocklist + badword + scheme drop reasons)."""
    from corpus_lab.operators.url_ops import filter_urls
    d = _t(spark, sf_dir, "documents")
    u = d.select("doc_id", _messy_url().alias("url"))
    return filter_urls(u).select("doc_id", "canon_url", "keep", "drop_reason")


def q_url_dedup(spark, sf_dir):
    """URL-level dedup: lowest doc_id per canonical URL (hash agg with
    map-side combine — the scale shape for hot boilerplate URLs)."""
    from corpus_lab.operators.url_ops import dedup_by_canonical_url
    d = _t(spark, sf_dir, "documents")
    # fold ids onto a shared path so canonical collisions actually occur
    collide = d.select((F.col("doc_id") % 50).alias("key"), "doc_id", "source")
    u = collide.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://Ex.COM:80"))
             .otherwise(F.lit("http://ex.com")),
            F.lit("/a/"), F.col("key").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=x&q=1#f"))
             .otherwise(F.lit("?q=1"))).alias("url"))
    return dedup_by_canonical_url(u)


def q_normalize_text(spark, sf_dir):
    """Corpus text canonicalization (control-char strip + whitespace
    collapse + trim) over deterministically dirtied text."""
    from corpus_lab.operators.text_analysis import normalize_text
    d = _t(spark, sf_dir, "documents")
    dirty = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(F.lit("  "), F.col("text"),
                 F.lit("\tx\x01\r\n end  ")).alias("text"))
    return normalize_text(dirty).select("doc_id", "norm_text")


def q_asof_join(spark, sf_dir):
    """As-of join (engine-new temporal operator): each purchase matched to
    the user's most recent view at or before it — ONE shuffle, union +
    per-key window carry-forward, no join node (operators/temporal.py).
    Oracle: DuckDB's native ASOF LEFT JOIN (an independent implementation
    of the same semantics).  Deterministic because (user_id, ts) is unique
    in the events table; for tied right timestamps asof_join picks the
    struct-max payload while ASOF JOIN's pick is unspecified."""
    from corpus_lab.operators.temporal import asof_join
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id"), "value")
    out = asof_join(pur, views, on="ts", by="user_id")
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.coalesce("r_view_id", F.lit(-1)).alias("view_id"),
        F.coalesce(F.date_format("r_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                   F.lit("")).alias("view_ts_s"),
        F.coalesce("r_value", F.lit(-1.0)).alias("view_value"))


def q_interval_join(spark, sf_dir):
    """Range/interval join (engine-new temporal operator): clicks inside
    each signup's one-hour window, via the (key, time-bucket) equi-join
    plan — the non-equi containment predicate never becomes a nested-loop
    join.  Oracle: the plain BETWEEN join (quadratic is fine at sf0.01)."""
    from corpus_lab.operators.temporal import interval_join
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"))
    pts = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"))
    out = interval_join(iv, pts, by="user_id", bucket_secs=3600)
    return out.select(
        "signup_id", "user_id", "click_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts_s"))


def q_lm_score(spark, sf_dir):
    """Bigram-LM quality scoring (CCNet-style perplexity filter): train
    corpus bigram/unigram counts, score each document's mean Laplace-
    smoothed log-probability.  The per-doc fold runs in position order on
    both engines, so the doubles add in the same sequence and the oracle
    hash-matches (vocab_size is a driver-side scalar, model-sized)."""
    from corpus_lab.operators.lm_score import (
        lm_doc_scores,
        train_bigram_model,
    )
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bigrams, unigrams, v = train_bigram_model(d)
    # recomputing the count tables in the scoring job beats materializing
    # them at this scale (measured: checkpoint only wins on a cold page
    # cache); production would WRITE the model tables once and score many
    # shards against them
    return lm_doc_scores(d, bigrams, unigrams, v)


def q_robots_filter(spark, sf_dir):
    """Robots-policy gate (RFC 9309) over synthesized frontier URLs: the
    newsbot group's rules apply (NOT the '*' group — group selection),
    Allow beats the shorter Disallow (longest-match), and a domain with
    no robots row fails open.  The oracle states the expected verdict
    per URL shape directly."""
    from corpus_lab.operators.robots import filter_by_robots
    d = _t(spark, sf_dir, "documents")
    did, ds, src = F.col("doc_id"), F.col("doc_id").cast("string"), F.col("source")
    url = (
        F.when(did % 11 == 0,
               F.concat(F.lit("https://norobots.example.net/a/"), ds))
         .when(did % 7 == 0,
               F.concat(F.lit("https://"), src,
                        F.lit(".example.org/private/"), ds))
         .when(did % 5 == 0,
               F.concat(F.lit("https://"), src, F.lit(".example.org/a/ok"), ds))
         .otherwise(F.concat(F.lit("https://"), src,
                             F.lit(".example.org/a/"), ds)))
    urls = d.select("doc_id", url.alias("url"))
    robots = (d.select(F.concat(src, F.lit(".example.org")).alias("domain"))
              .distinct()
              .withColumn("robots_txt", F.lit(
                  "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
                  "\nUser-agent: newsbot\nDisallow: /a/\nAllow: /a/ok\n")))
    return (filter_by_robots(urls, robots, user_agent="newsbot-crawler/1.0")
            .select("doc_id", "url", "allowed"))


def q_salted_join(spark, sf_dir):
    """Skew-salted big-big equi-join on the skewed publisher key (the
    north rule's "salts skewed publisher/domain keys"): every document
    joined to its source's aggregate stats with the hot source spread
    over 8 sub-keys (operators/skew.py).  Output equals the plain join —
    the oracle IS the plain join."""
    from corpus_lab.operators.skew import salted_join
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    stats = d.groupBy("source").agg(
        F.count("*").cast("long").alias("src_docs"),
        F.sum("n_chars").cast("long").alias("src_chars"))
    return salted_join(d.select("doc_id", "source"), stats, "source")


def q_crawl_frontier(spark, sf_dir):
    """Crawl-frontier construction: JVM-synthesized sitemap XML (20-doc
    urlsets over the same deterministic messy URLs as url_canonicalize)
    -> from-scratch sitemap parse (one Arrow stage) -> canonicalize +
    C4-style filter -> canonical-URL aggregation.  Oracle re-derives the
    frontier with the same canonicalization SQL."""
    from corpus_lab.sources.sitemap import crawl_frontier
    d = _t(spark, sf_dir, "documents")
    loc = F.replace(_messy_url(), F.lit("&"), F.lit("&amp;"))
    entry = F.concat(F.lit("<url><loc>"), loc, F.lit("</loc></url>"))
    groups = d.select((F.col("doc_id") % 20).alias("sid"),
                      F.col("doc_id").alias("did"), entry.alias("e"))
    sitemaps = (
        groups.groupBy("sid")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("did", "e"))),
                        lambda s: s["e"]), "").alias("body"))
        .select(F.col("sid").alias("sitemap_id"),
                F.concat(
                    F.lit('<urlset xmlns='
                          '"http://www.sitemaps.org/schemas/sitemap/0.9">'),
                    F.col("body"), F.lit("</urlset>")).alias("xml")))
    return crawl_frontier(sitemaps)


def q_windowed_counts(spark, sf_dir):
    """Tumbling-window aggregation (the batch face of the watermarked
    streaming variant, streaming/stream.py::streaming_windowed_counts —
    both delegate to operators/events.py::windowed_counts so one
    definition serves both; late-data drop is pytest-verified in
    tests/test_streaming.py)."""
    from corpus_lab.operators.events import windowed_counts
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    out = windowed_counts(ev, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
         .alias("window_start_s"),
        "event_type", "n_events", "total_value")


def q_warc_extract(spark, sf_dir):
    """WARC crawl-archive source (sources/warc.py): WARC files are
    synthesized per 50-doc group with pure JVM string exprs (HTTP/1.1
    response records, Content-Length in bytes), parsed back by the
    from-scratch record parser (kernel/warcx.py), and HTML 200 responses
    projected to kernel documents.  The oracle is the identity projection
    — any header/length/slicing defect breaks the round trip."""
    from corpus_lab.sources.warc import documents_from_warc
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    html = F.concat(F.lit("<html><body><p>"), F.col("text"),
                    F.lit("</p></body></html>"))
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; "
              "charset=utf-8\r\n\r\n"), html)
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.org/a/"), F.col("doc_id").cast("string"))
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:"),
        F.col("doc_id").cast("string"),
        F.lit(">\r\nWARC-Date: 2025-01-05T10:00:00Z\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nContent-Type: application/http; msgtype=response\r\n"
              "Content-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"))
    files = (
        d.select((F.col("doc_id") % 50).alias("file_id"),
                 F.col("doc_id").alias("did"), rec.alias("rec"))
        .groupBy("file_id")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("did", "rec"))),
                        lambda s: s["rec"]), "").alias("txt"))
        .select("file_id", F.encode("txt", "utf-8").alias("content")))
    docs = documents_from_warc(files)
    return docs.select(
        F.col("doc_id").alias("url"),
        F.element_at("spans", 2)["text"].alias("page_html"))


def q_bm25_search(spark, sf_dir):
    """Index-backed ranked search (operators/search.py — scales the
    reference's P10 LIKE search, src/cache/local/mod.rs, to an inverted
    index + BM25).  Term contributions fold in term order (the lm_score
    determinism contract), so the doubles hash-match the oracle."""
    from corpus_lab.operators.search import bm25_search
    d = _t(spark, sf_dir, "documents")
    return bm25_search(d, ["spark", "merge", "window"], top_n=20)


def q_bloom_anti_join(spark, sf_dir):
    """Bloom-filter-pruned anti-join (operators/bloom.py): the 100 TB
    seen-set dedup path — k broadcast joins against the aggregated
    bitmap words prune definite-new rows before the exact anti-join.
    Lossless, so the oracle is the plain NOT IN.  m_bits is sized small
    here so the false-positive verify path actually executes."""
    from corpus_lab.operators.bloom import bloom_anti_join
    d = _t(spark, sf_dir, "documents")
    new = d.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/a/"),
                 F.col("doc_id").cast("string")).alias("url"))
    seen = new.filter(F.col("doc_id") % 3 == 0).select("url")
    return bloom_anti_join(new, seen, "url", m_bits=1 << 12, k=3)


def q_kmeans_assign(spark, sf_dir):
    """Distributed Lloyd k-means (operators/clustering.py): 2 iterations
    from pinned seeded init over the embeddings table, final (vec_id,
    cluster, dist).  Floats stay oracle-exact via the 9-digit per-
    iteration rounding contract; the oracle unrolls both iterations."""
    from corpus_lab.operators.clustering import kmeans_predict, pinned_init
    e = _t(spark, sf_dir, "embeddings")
    # init pinned at _EMB_DIM — the SAME constant _kmeans_sql embeds, so
    # a regenerated table at another dim fails loudly instead of drifting
    return kmeans_predict(e, k=8, iters=2, init=pinned_init(_EMB_DIM, 8))


def q_frequent_ngrams(spark, sf_dir):
    """Corpus heavy hitters (operators/text_analysis.py): frequent word
    3-grams across documents — the boilerplate-mining feed for chunk
    dedup; two decomposable hash aggregations."""
    from corpus_lab.operators.text_analysis import frequent_ngrams
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return frequent_ngrams(d, n=3, min_docs=5)


def q_fetch_schedule(spark, sf_dir):
    """Politeness fetch waves (operators/url_ops.py): round-robin
    scheduling of frontier URLs with at most 2 fetches per domain per
    wave — the distributed form of the reference daemon's sequential
    per-source polling."""
    from corpus_lab.operators.url_ops import fetch_schedule
    d = _t(spark, sf_dir, "documents")
    frontier = d.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.col("source"), F.lit(".example.org")).alias("domain"))
    return fetch_schedule(frontier, per_wave=2)


def q_c4_line_filter(spark, sf_dir):
    """C4-style line filtering (operators/text_analysis.py): the synth
    corpus has no line structure, so a deterministic 4-line layout is
    built JVM-side first — a punctuated long line (kept), a short line
    (word-count fail), an unpunctuated run (punctuation fail), and a
    rotating tail that is either a 5-word quoted keeper or a lorem-ipsum
    poison line that kills the whole document; every 23rd doc also gains
    a curly brace (code probe).  The oracle rebuilds the same lines and
    replays the rules."""
    from corpus_lab.operators.text_analysis import c4_line_filter
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.trim("text"), r"\s+")
    l1 = F.concat(F.array_join(F.slice(toks, 1, 6), " "), F.lit("."))
    l2 = F.lit("too short.")
    l3 = F.array_join(F.slice(toks, 7, 8), " ")
    l4 = F.when(F.col("doc_id") % 17 == 0,
                F.lit("lorem ipsum makes this doc toxic."))\
         .otherwise(F.lit('a quoted "line" ends well?'))
    curly = F.when(F.col("doc_id") % 23 == 0, F.lit(" {js}"))\
             .otherwise(F.lit(""))
    lined = d.withColumn(
        "text", F.concat(F.concat_ws("\n", l1, l2, l3, l4), curly))
    return c4_line_filter(lined).select(
        "doc_id", "n_lines", "n_kept", "clean_text")


def q_cms_token_counts(spark, sf_dir):
    """Count-Min sketch frequency estimation (operators/sketch.py):
    corpus token occurrences folded into a 4x256 mergeable counter
    relation, point estimates = min over the 4 hash rows, heavy hitters
    (est >= 50) reported.  The md5 hash contract makes the sketch (and
    its collision over-counts) bit-reproducible, so the DuckDB oracle
    replays the estimates exactly; the never-undercount guarantee is
    pytest-asserted."""
    from corpus_lab.operators.sketch import cms_counters, cms_estimate
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    counters = cms_counters(toks, "tok", d=4, w=256)
    est = cms_estimate(counters, toks, "tok", d=4, w=256)
    return est.filter(F.col("est") >= 50).select("value", "est")


def q_streaming_hll_estimate(spark, sf_dir):
    """Streaming distinct-count arithmetic, oracle-checkable: the corpus
    is ingested as two deterministic micro-batches through the EXACT
    incremental_hll_sink protocol (per-batch registers into batch_id
    partitions via dynamic overwrite — streaming/stream.py), then
    streaming_hll_estimate max-merges the partitions and estimates.
    Because HLL registers are max-mergeable, the result equals the batch
    sketch over the whole corpus — the oracle re-derives exactly that."""
    import os
    import shutil

    from corpus_lab.streaming.sinks import (
        incremental_hll_sink,
        streaming_hll_estimate,
    )
    d = _t(spark, sf_dir, "documents")
    path = os.path.join(
        "/tmp", "nrs_q_streaming_hll",
        os.path.basename(os.path.normpath(sf_dir)))
    shutil.rmtree(path, ignore_errors=True)  # local test path; sinks on
    # object stores rely on the dynamic-overwrite replay protocol instead
    sink = incremental_hll_sink(path, "lang", "text", p=8)
    sink(d.filter(F.col("doc_id") % 2 == 0), 0)
    sink(d.filter(F.col("doc_id") % 2 == 1), 1)
    return streaming_hll_estimate(spark, path, "lang", p=8)


def q_streaming_cms_estimate(spark, sf_dir):
    """Streaming frequency-estimate arithmetic, oracle-checkable: corpus
    tokens ingested as two deterministic micro-batches through the EXACT
    incremental_cms_sink protocol (per-batch d x w counters into
    batch_id partitions via dynamic overwrite — streaming/stream.py),
    then streaming_cms_estimate sums the partitions and point-estimates
    five pinned candidate tokens (incl. one absent token, whose estimate
    is pure deterministic collision mass).  Counter sum is associative,
    so the result equals the batch sketch over the whole corpus — the
    oracle re-derives exactly that."""
    import os
    import shutil

    from corpus_lab.streaming.sinks import (
        incremental_cms_sink,
        streaming_cms_estimate,
    )
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = d.select("doc_id",
                    F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    path = os.path.join(
        "/tmp", "nrs_q_streaming_cms",
        os.path.basename(os.path.normpath(sf_dir)))
    shutil.rmtree(path, ignore_errors=True)  # local test path; object
    # stores rely on the dynamic-overwrite replay protocol instead
    sink = incremental_cms_sink(path, "tok", d=4, w=256)
    sink(toks.filter(F.col("doc_id") % 2 == 0).select("tok"), 0)
    sink(toks.filter(F.col("doc_id") % 2 == 1).select("tok"), 1)
    cands = spark.createDataFrame(
        [("join",), ("hash",), ("row",), ("scan",), ("zz-absent",)],
        "tok string")
    return streaming_cms_estimate(spark, path, cands, "tok", d=4, w=256)


def q_dedup_clusters_star(spark, sf_dir):
    """Web-graph-shaped duplicate clustering: large-star/small-star
    connected components (operators/components.py — O(log^2 n) rounds
    independent of diameter) over a synthesized graph whose hub chain
    GROWS with corpus size (multiples of 50 chain together), exactly the
    long-diameter shape where plain min-label propagation would need
    diameter-many shuffle rounds.  Oracle: DuckDB recursive CTE over the
    identical edge rule."""
    from corpus_lab.operators.components import dedup_clusters
    d = _t(spark, sf_dir, "documents")
    pairs = (
        d.filter(F.col("doc_id") % 7 > 0)
        .select(F.col("doc_id").alias("a"),
                (F.col("doc_id") - F.col("doc_id") % 7).alias("b"))
        .unionByName(
            d.filter((F.col("doc_id") % 50 == 0) & (F.col("doc_id") >= 50))
            .select(F.col("doc_id").alias("a"),
                    (F.col("doc_id") - 50).alias("b"))))
    return dedup_clusters(d, pairs, "doc_id", max_iter=30, algorithm="star")


def q_pii_redact_extended(spark, sf_dir):
    """Extended corpus scrubbing: email + IBAN + full-form IPv6 + IPv4 +
    phone, in that load-bearing order (IBAN digit bodies would otherwise
    feed the phone pattern; see PII_PATTERNS_EXTENDED).  PII is injected
    deterministically JVM-side; the oracle injects and scrubs with the
    identical five-stage regex chain."""
    from corpus_lab.operators.text_analysis import (
        PII_PATTERNS_EXTENDED,
        redact_pii,
    )
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ds = F.col("doc_id").cast("string")
    two = F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0")
    salted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), ds, F.lit("@mail.example.org"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit(" pay DE"), two,
                            F.lit("5001051754073249")))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" via fe80:0:0:0:0:2"),
                            (F.col("doc_id") % 10).cast("string"),
                            F.lit(":fe21:67cf from 10.0."),
                            (F.col("doc_id") % 256).cast("string"),
                            F.lit(".7 tel +1 555-01"), two,
                            F.lit("-2345")))
             .otherwise(F.lit(""))))
    out = redact_pii(salted, patterns=PII_PATTERNS_EXTENDED)
    return out.select("doc_id", "n_email", "n_iban", "n_ipv6", "n_ipv4",
                      "n_phone", "clean_text")


def q_png_decode_stats(spark, sf_dir):
    """From-scratch PNG decode, oracle-checked: synth_png_media emits
    real 8-bit RGB/RGBA PNGs (per-row filter rotation exercises all five
    scanline filters; operators/multimodal.py decode_png does the chunk
    walk + CRC verify + capped inflate + unfilter), and the DuckDB
    oracle re-derives width/height and the exact decoded pixel-byte sum
    from the synthesis rule — one wrong reconstructed byte anywhere in
    the filter chain breaks the hash."""
    from corpus_lab.operators.multimodal import (
        decode_stats,
        synth_png_media,
    )
    d = _t(spark, sf_dir, "documents")
    stats = decode_stats(synth_png_media(d))
    return stats.select("media_id", "kind", "decoded", "width", "height",
                        "px_sum")


def q_epoch_mix(spark, sf_dir):
    """Weighted multi-source epoch mixing (operators/packing.py
    epoch_mix): the Pile/LLaMA data-mixing recipe — source weight w
    yields floor(w) copies of every doc plus one Bernoulli(frac(w))
    extra, then the copy stream is laid into 16 hash-shuffled shards
    with within-shard positions (copies of one doc scatter across the
    epoch).  Weights here exercise every regime: src0=2.5 (2-3 copies),
    src1=1.5 (1-2), src2=0.3 (subsample), src3=0.0 (dropped), everything
    else the 1.0 default.  Draws follow the md5_draw32 contract; layout
    follows the corpus_shuffle shard idiom keyed per copy.  The DuckDB
    oracle replays draw, fan-out, and rank integer-exactly."""
    from corpus_lab.operators.packing import epoch_mix
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = epoch_mix(d, {"src0": 2.5, "src1": 1.5, "src2": 0.3,
                        "src3": 0.0}, n_shards=16, salt="mix-v1")
    return out.select("doc_id", "source", "copy", "shard", "pos")


def q_split_sentences(spark, sf_dir):
    """Sentence segmentation with exact character offsets
    (operators/sentences.py): fixed boundary rule (terminator + space +
    [A-Z0-9] opener, 10-char bounded abbreviation guard), segments
    numbered before blank-filtering, 0-based offsets indexing the
    ORIGINAL string.  One shuffle-free projection; the DuckDB oracle
    replays every per-position probe and cut."""
    from corpus_lab.operators.sentences import split_sentences
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return split_sentences(d)


def q_hashed_ngram_score(spark, sf_dir):
    """Hashed-n-gram linear scorer (operators/linear_score.py): the
    fastText-architecture apply path — unigram+bigram buckets, pinned
    closed-form integer weights, score = one shuffle-free per-row JVM
    expression (exact BIGINT sum, one division, one 9-digit round).
    NULL/empty text scores 0.0 with n_grams 0.  The DuckDB oracle
    replays bucket, weight, and fold integer-exactly."""
    from corpus_lab.operators.linear_score import hashed_ngram_score
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return hashed_ngram_score(d).select("doc_id", "n_grams", "ft_score",
                                        "keep")


def q_random_walks(spark, sf_dir):
    """Deterministic DeepWalk sampling (operators/walks.py) over the
    same synthesized link graph pagerank ranks: 2 walks of length 3
    from every node with out-edges, each step's choice an md5 draw mod
    out-degree over the SORTED neighbor list.  One row per visited
    position; the DuckDB oracle replays every draw and index."""
    from corpus_lab.operators.walks import random_walks
    d = _t(spark, sf_dir, "documents").filter(F.expr("doc_id % 4 > 0"))
    e = (d.select(F.col("doc_id").alias("src"),
                  F.explode(F.expr(
                      "sequence(1, CAST(doc_id % 4 AS INT))")).alias("j"))
         .select("src",
                 ((F.col("src") * 31 + F.col("j") * 97) % 1000).alias("dst")))
    return random_walks(e, walk_len=3, walks_per_node=2, salt="walk-v1")


def q_textrank(spark, sf_dir):
    """Corpus-level TextRank keywords (operators/textrank.py): window-2
    co-occurrence graph over length-filtered lowercase tokens, 3 power
    iterations at d=0.85 (the pagerank 9-digit contract), top 25 words
    by rank (word-asc tiebreak — total order, engine-independent).  The
    DuckDB oracle rebuilds the same graph through md5 word ids and
    unrolls the identical iterations."""
    from corpus_lab.operators.textrank import textrank_keywords
    d = _t(spark, sf_dir, "documents").select("text")
    return textrank_keywords(d, k=25, iters=3, damping=0.85, min_len=4)


def q_image_dhash(spark, sf_dir):
    """Perceptual image hash over REAL decoded pixels
    (operators/multimodal.py dhash_images): synth PNGs -> from-scratch
    decode -> integer grayscale -> NN resample to 8x8 -> 56-bit
    difference hash.  The DuckDB oracle replays the whole chain from the
    synthesis rule in SQL (pixel bytes, the (r+g+b)//3 gray, the
    min(dst*n//8, n-1) resample grid, the bit packing) — one wrong
    reconstructed byte or resample index anywhere flips hash bits."""
    from corpus_lab.operators.multimodal import (
        dhash_images,
        synth_png_media,
    )
    d = _t(spark, sf_dir, "documents")
    return dhash_images(synth_png_media(d)).select(
        "media_id", "kind", "decoded", "dhash")


_MJPEG_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _mjpegmedia(spark, sf_dir):
    """Memoized synthesized-MJPEG media relation per (session, sf_dir),
    localCheckpoint'd once: all four MJPEG consumers (frame dhash,
    clip near-dup, decode stats, frame sampling) re-ran the Python-side
    JPEG ENCODER per query — the synthesis is half each query's cost.
    Same idiom/lifecycle as _sig60/_cappedemb/_qgate; payload bytes are
    the pinned value, the decoders still run per query (they are what
    each query verifies)."""
    global _MJPEG_CACHE
    import weakref
    if _MJPEG_CACHE is None:
        _MJPEG_CACHE = weakref.WeakKeyDictionary()
    per_session = _MJPEG_CACHE.setdefault(spark, {})
    media = per_session.get(sf_dir)
    if media is None:
        from corpus_lab.operators.multimodal import synth_mjpeg_media
        d = _t(spark, sf_dir, "documents")
        media = synth_mjpeg_media(d).localCheckpoint(eager=True)
        per_session[sf_dir] = media
    return media


def q_video_frame_dhash(spark, sf_dir):
    """Per-frame perceptual dHash over REAL decoded motion-JPEG
    (operators/multimodal.py frame_dhash): every frame through the
    from-scratch kernel.jpegx codec, then the same
    grayscale/resample/bit chain as still images.  The DuckDB oracle
    replays frame synthesis (flat 8x8 blocks, (37b + i + 19f) % 256),
    the NN resample grid, and the bit packing exactly."""
    from corpus_lab.operators.multimodal import frame_dhash
    return frame_dhash(_mjpegmedia(spark, sf_dir)).select(
        "media_id", "frame_idx", "dhash")


def q_audio_fingerprint(spark, sf_dir):
    """Audio envelope fingerprint over REAL decoded samples
    (operators/multimodal.py audio_envelope_hash): integer-rule PCM
    WAVs -> stdlib wave decode -> 56-block |amplitude| envelope ->
    cross-multiplied int64 mean comparison per block.  The DuckDB
    oracle replays sample synthesis, block assignment (k*56//n), and
    the bit packing exactly — one wrong decoded sample anywhere flips
    fingerprint bits."""
    from corpus_lab.operators.multimodal import (
        audio_envelope_hash,
        synth_pcm_int_media,
    )
    d = _t(spark, sf_dir, "documents")
    return audio_envelope_hash(synth_pcm_int_media(d)).select(
        "media_id", "kind", "decoded", "fingerprint")


def q_image_near_dup(spark, sf_dir):
    """Perceptual image NEAR-DUP pairs: the 56-bit dHash fed through the
    SAME pigeonhole banding as text SimHash
    (text_dedup.simhash_near_dup_pairs(sig=...) — the banding never
    looks at how the signature was made), hamming <= 2 via k=3 disjoint
    bit bands -> ONE equi-join -> exact bit_count verify.  Capped to
    doc_id < 1500 like the brute embedding baseline so the oracle's
    all-pairs join stays constant-cost; the banded Spark plan is the
    100 TB path."""
    from corpus_lab.operators.multimodal import (
        dhash_images,
        synth_png_media,
    )
    from corpus_lab.operators.text_dedup import simhash_near_dup_pairs
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1500)
    sig = (dhash_images(synth_png_media(d))
           .filter("decoded")
           .select("media_id", F.col("dhash").alias("simhash")))
    return simhash_near_dup_pairs(sig, max_hamming=2, id_col="media_id",
                                  n_bits=56, sig=sig)


def q_audio_near_dup(spark, sf_dir):
    """Audio NEAR-DUP pairs — the audio leg of perceptual dedup: the
    56-bit envelope fingerprint through the SAME pigeonhole banding as
    text SimHash and image dHash.  Planted structure: every doc_id
    ending in 9 synthesizes the CONTENT of doc_id-1 under its own
    media_id (synth_pcm_int_media(content_col=...) — the re-hosted-clip
    shape), so each 10-block contributes one hamming-0 pair; everything
    else is fingerprint-random and must not pair at radius 2.  The
    oracle replays synthesis with the same content mapping, the
    envelope-bit rule, and an all-pairs bit_count scan."""
    from corpus_lab.operators.multimodal import (
        audio_envelope_hash,
        synth_pcm_int_media,
    )
    from corpus_lab.operators.text_dedup import simhash_near_dup_pairs
    d = (_t(spark, sf_dir, "documents")
         .withColumn("cid", F.when(F.col("doc_id") % 10 == 9,
                                   F.col("doc_id") - 1)
                             .otherwise(F.col("doc_id"))))
    sig = (audio_envelope_hash(synth_pcm_int_media(d, content_col="cid"))
           .filter("decoded")
           .select("media_id", F.col("fingerprint").alias("simhash")))
    return simhash_near_dup_pairs(sig, max_hamming=2, id_col="media_id",
                                  n_bits=56, sig=sig)


def q_video_near_dup(spark, sf_dir):
    """Video NEAR-DUP pairs by EXACT frame-content-key SET overlap
    (operators/multimodal.py frame_share_pairs): every frame through the
    from-scratch MJPEG codec (sample_frames integer stats), keyed by the
    composite px_sum*16384 + width*64 + height, then distinct frame-key
    sets compared by exact Jaccard via ONE equi-join (only videos
    sharing an identical frame ever meet).  Planted: doc_ids ending in 9
    carry the frames of doc_id-1 (jaccard 1.0); the synthesis rule's
    19-step frame shift makes some unplanted videos share nf-2 exact
    frames, which the 0.5 threshold excludes — both facts replayed by
    the oracle.  (The perceptual dHash key is deliberately NOT used for
    set overlap: low-detail flat-block frames collide dHash massively —
    measured 92k junk pairs vs 50 planted at sf0.01 — so dHash stays the
    per-frame banding key and the exact key owns clip-level dedup.)"""
    from corpus_lab.operators.multimodal import (
        frame_share_pairs,
        sample_frames,
        synth_mjpeg_media,
    )
    d = (_t(spark, sf_dir, "documents")
         .withColumn("cid", F.when(F.col("doc_id") % 10 == 9,
                                   F.col("doc_id") - 1)
                             .otherwise(F.col("doc_id"))))
    frames = (sample_frames(synth_mjpeg_media(d, content_col="cid"))
              .withColumn("fkey", F.col("px_sum") * 16384
                          + F.col("width") * 64 + F.col("height")))
    return frame_share_pairs(frames, min_share=0.5, key_col="fkey")


def q_nb_classifier(spark, sf_dir):
    """Trainable multinomial Naive Bayes classifier
    (operators/nb_classifier.py): trained ON the corpus with label =
    (lang == 'en') — the CCNet-style learn-a-quality/language-filter-
    from-your-own-data recipe — then every document scored with the
    fitted model.  Training is two hash aggs (the model IS count
    tables); scoring folds per-token log-odds in position order (the
    lm_score float-parity contract) so the DuckDB oracle replays
    train + score exactly."""
    from corpus_lab.operators.nb_classifier import nb_score, nb_train
    d = (_t(spark, sf_dir, "documents")
         .filter(F.col("text").isNotNull())
         .filter(F.length(F.trim("text")) > 0)
         .withColumn("y", F.coalesce(F.col("lang") == "en", F.lit(False))))
    model = nb_train(d, "y")
    return nb_score(d, model)


def q_g711_decode_stats(spark, sf_dir):
    """From-scratch G.711 telephony decode, oracle-checked:
    synth_g711_media emits real mu-law (format 7, even ids) and A-law
    (format 6, odd ids) WAVs whose constant sample is a DECODE-LATTICE
    point derived from the id (operators/multimodal.py synth_g711_media
    docstring carries the closed form), so the payloads round-trip
    bit-exactly and the DuckDB oracle re-derives the decoded sample
    count AND the exact decoded sample sum from the rule — one wrong
    expansion-table entry, XOR mask, bias, or segment shift breaks it."""
    from corpus_lab.operators.multimodal import (
        decode_stats,
        synth_g711_media,
    )
    d = _t(spark, sf_dir, "documents")
    stats = decode_stats(synth_g711_media(d))
    return stats.select("media_id", "kind", "decoded", "n_samples",
                        "sample_rate", "sample_sum")


def q_adpcm_decode_stats(spark, sf_dir):
    """From-scratch compressed-audio decode, oracle-checked:
    synth_adpcm_media emits real IMA-ADPCM WAVs (format 0x0011, 4
    bits/sample; operators/multimodal.py decode_adpcm_wav does the RIFF
    chunk walk + per-block predictor/index headers + step-table nibble
    expansion) of constant-amplitude signals, which round-trip
    bit-exactly — the DuckDB oracle re-derives the decoded sample count
    AND the exact decoded sample sum from the synthesis rule."""
    from corpus_lab.operators.multimodal import (
        decode_stats,
        synth_adpcm_media,
    )
    d = _t(spark, sf_dir, "documents")
    stats = decode_stats(synth_adpcm_media(d))
    return stats.select("media_id", "kind", "decoded", "n_samples",
                        "sample_rate", "sample_sum")


def q_jpeg_decode_stats(spark, sf_dir):
    """From-scratch baseline-JPEG decode, oracle-checked:
    synth_jpeg_media emits real JPEGs whose 8x8 blocks are flat (DC-only
    under a unit quant table, so baseline JPEG is bit-exact on them;
    kernel/jpegx.py decode_jpeg does the full marker walk + DHT-driven
    Huffman entropy decode + dezigzag + dequantize + exact IDCT), and
    the DuckDB oracle re-derives width/height and the exact decoded
    pixel-byte sum from the synthesis rule — one wrong Huffman bit, DC
    predictor update, zigzag slot, or IDCT scale anywhere breaks it."""
    from corpus_lab.operators.multimodal import (
        decode_stats,
        synth_jpeg_media,
    )
    d = _t(spark, sf_dir, "documents")
    stats = decode_stats(synth_jpeg_media(d))
    return stats.select("media_id", "kind", "decoded", "width", "height",
                        "px_sum")


def q_sparse_cosine(spark, sf_dir):
    """Sparse all-pairs TF-IDF cosine (the Bayardo et al. WWW'07 all-pairs
    shape, operators/sparse_sim.py) over TRIGRAM shingle terms: the
    3-token shingles are derived IN-PLAN with JVM array expressions
    (split -> transform/get -> array_join) so the operator's whitespace
    tokenizer sees one term per shingle.  Trigrams make the term space
    sparse (vocab ~30k at sf0.1, max df 25), so the postings self-join
    stays tiny without df-pruning pressure, while near-duplicate docs
    share long shingle runs -> cosine ~1 and unrelated docs ~0.  The
    oracle replays tokenization, tf-idf, the term-ordered norm fold, and
    the pair fold digit-for-digit (lexical near-dup counterpart of the
    reference's per-row LIKE matching, src/cache/local/mod.rs)."""
    from corpus_lab.operators.sparse_sim import all_pairs_cosine
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"),
                    lambda x: x != "")
    # the repartition is load-bearing twice over: (1) the lambda below
    # captures `_t` — across an Exchange that's a MATERIALIZED attribute
    # (split runs once per row), while in one collapsed projection
    # Catalyst re-evaluates the whole split expression inside every
    # F.get call (~3x52 regex splits per doc — measured 15.7 s -> 1 s at
    # sf0.1); (2) the sf parquet is one file -> one task without it
    d = (d.withColumn("_t", toks).filter(F.size("_t") >= 3)
         .repartition(32))
    tri = F.array_join(
        F.transform(F.sequence(F.lit(0), F.size("_t") - 3),
                    lambda i: F.concat_ws("_", F.get("_t", i),
                                          F.get("_t", i + 1),
                                          F.get("_t", i + 2))), " ")
    # materialize the derived relation ONCE: the operator's DAG reads its
    # input from three branches (tf, dictionary, corpus-n stats), and
    # each would re-run the trigram derivation otherwise (measured 17.9 s
    # -> 5.5 s at sf0.1; the dedup-family signature-sharing rule).
    # SCALE NOTE: localCheckpoint + the fixed repartition(32) width are
    # bench-scale conveniences — at a real 100-TB corpus the equivalent
    # is a STAGED TEMP TABLE of the trigram relation (written once,
    # lifecycle-managed, partition count sized to the cluster), not an
    # executor-pinned lineage checkpoint with a hard-coded width
    d = d.select("doc_id", tri.alias("tri_text")).localCheckpoint(eager=True)
    return all_pairs_cosine(d, threshold=0.3, min_df=2, max_df=1000,
                            text_col="tri_text", id_col="doc_id",
                            materialize=True)


def q_edit_distance_near_dup(spark, sf_dir):
    """Near-dup pairs verified by EXACT Levenshtein distance
    (text_dedup.edit_distance_near_dup_pairs): MinHash b=2 x r=2 banding
    supplies candidates (same CTE as minhash_pairs), a free length-delta
    prefilter drops pairs whose distance provably exceeds the radius,
    equal texts short-circuit to 0, and the survivors run Spark's
    THRESHOLDED banded-DP levenshtein — result-identical to the full DP
    the DuckDB oracle replays."""
    from corpus_lab.operators.text_dedup import (
        edit_distance_near_dup_pairs)
    d = _t(spark, sf_dir, "documents")
    d = d.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
    return edit_distance_near_dup_pairs(d, max_dist=20, n_hashes=4,
                                        rows_per_band=2, shingle_n=2)


def _scored_labeled_docs(spark, sf_dir):
    """Shared input for the filter-evaluation metrics: quality_score as
    the ranker (oracle-green arithmetic), pred_lang == 'en' as the
    ground-truth label (oracle-green lang_id).  Both columns are 6-dp
    cross-engine-exact already, so the metric grid quantization
    (decimals=6) is the identity rounding both engines agree on."""
    from corpus_lab.operators.text_analysis import (lang_id,
                                                        quality_features)
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    q = quality_features(d, "text").select("doc_id", "quality_score")
    lg = lang_id(d, "text").select(
        "doc_id",
        (F.col("pred_lang") == "en").cast("int").alias("label"))
    return q.join(lg, "doc_id")


def q_k_core(spark, sf_dir):
    """k-core decomposition by bulk peeling (operators/kcore.py,
    Seidman 1983): nodes surviving 6 bounded rounds of drop-below-3
    peeling on the UNDIRECTED simple projection of the pagerank link
    graph, with their induced degree.  Exact set/integer arithmetic
    end-to-end; Spark early-exits at the fixpoint (identical output —
    remaining rounds are no-ops), the oracle unrolls all 6 rounds.
    A 20-node 4-neighbor ring lattice (every doc_id < 20 links its
    next four ids mod 20) is planted so the 3-core is non-trivial at
    every sf -- the organic link graph alone peels to nothing at
    sf <= 0.01."""
    from corpus_lab.operators.kcore import k_core
    docs = _t(spark, sf_dir, "documents")
    d = docs.filter(F.expr("doc_id % 4 > 0"))
    e = (d.select(F.col("doc_id").alias("src"),
                  F.explode(F.expr(
                      "sequence(1, CAST(doc_id % 4 AS INT))")).alias("j"))
         .select("src",
                 ((F.col("src") * 31 + F.col("j") * 97) % 1000).alias("dst")))
    ring = (docs.filter(F.col("doc_id") < 20)
            .select(F.col("doc_id").alias("src"),
                    F.explode(F.expr("sequence(1, 4)")).alias("m"))
            .select("src",
                    ((F.col("src") + F.col("m")) % 20).alias("dst")))
    return k_core(e.unionAll(ring), k=3, rounds=6)


def q_negative_samples(spark, sf_dir):
    """Deterministic contrastive negative sampling
    (operators/contrastive.py): up to 4 md5-drawn uniform negatives per
    document, excluding the anchor itself, id-space holes, and the
    MinHash near-dup positives (the oracle-green minhash_pairs
    relation) in both orientations.  Collisions drop rather than
    re-draw (a re-draw chain is sequential state neither engine can
    express as a column); slot index j records survivors."""
    from corpus_lab.operators.contrastive import negative_samples
    from corpus_lab.operators.text_dedup import minhash_candidate_pairs
    d = _t(spark, sf_dir, "documents")
    dd = d.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
    pos = minhash_candidate_pairs(dd, n_hashes=4, rows_per_band=2,
                                  shingle_n=2)
    return negative_samples(d, pos, k=4)


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (operators/linkpred.py): unlinked
    pairs ranked by shared-neighborhood mass with promiscuous
    neighbors down-weighted (1/ln deg), hubs above degree 32 pruned
    BEFORE the 2-path pair join (the quadratic-blowup guard — a
    declared, oracle-replayed part of the contract).  Terms are scaled
    exact int64 before summation.  Graph = the pagerank link graph +
    the k_core ring lattice."""
    from corpus_lab.operators.linkpred import adamic_adar
    docs = _t(spark, sf_dir, "documents")
    d = docs.filter(F.expr("doc_id % 4 > 0"))
    e = (d.select(F.col("doc_id").alias("src"),
                  F.explode(F.expr(
                      "sequence(1, CAST(doc_id % 4 AS INT))")).alias("j"))
         .select("src",
                 ((F.col("src") * 31 + F.col("j") * 97) % 1000).alias("dst")))
    ring = (docs.filter(F.col("doc_id") < 20)
            .select(F.col("doc_id").alias("src"),
                    F.explode(F.expr("sequence(1, 4)")).alias("m"))
            .select("src",
                    ((F.col("src") + F.col("m")) % 20).alias("dst")))
    return adamic_adar(e.unionAll(ring), max_degree=32)


def q_incremental_components(spark, sf_dir):
    """Incremental connected components (operators/inc_components.py):
    the persisted dedup-cluster label table folded forward with a new
    edge batch, touching only affected components (old components
    collapse to diameter-2 stars; batch CC runs on the small affected
    subgraph; unaffected rows pass through verbatim).  Here the 60-bit
    SimHash hamming<=4 pair graph is split deterministically — pairs
    avoiding doc_id%10==7 are 'yesterday', pairs touching them are the
    new batch — and the contract is byte-identical equivalence to
    batch CC on the union, which is exactly what the oracle computes."""
    from corpus_lab.operators.components import connected_components
    from corpus_lab.operators.inc_components import (
        incremental_components)
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    pairs = _pairs60h4(spark, sf_dir)
    old_p = pairs.filter((F.col("a") % 10 != 7) & (F.col("b") % 10 != 7))
    new_p = pairs.filter((F.col("a") % 10 == 7) | (F.col("b") % 10 == 7))
    old_labels = connected_components(
        d.select(F.col("doc_id").alias("node")), old_p,
        id_col="node").select(
        "node", F.col("comp").cast("long").alias("component"))
    return (incremental_components(old_labels, new_p)
            .select(F.col("node").alias("doc_id"), "component"))


def q_fim_splits(spark, sf_dir):
    """Fill-in-the-middle split construction (operators/corruption.py
    fim_splits, Bavarian et al. 2022): per-document PSM/SPM cut points
    from the content-stable md5 draw — one projection, zero shuffle;
    empty segments kept (drop-don't-redraw)."""
    from corpus_lab.operators.corruption import fim_splits
    return fim_splits(_t(spark, sf_dir, "documents"))


def q_url_trap_patterns(spark, sf_dir):
    """Crawl-trap template mining (operators/url_ops.py
    url_trap_patterns): URLs grouped by host + path template (numeric
    segments -> <d>, digit-bearing -> <m>); a template covering >= 10
    distinct URLs is a spider-trap suspect (calendar/session/pagination
    explosions).  Synthesized mix per doc: a calendar trap family
    (/cal/<yyyy>/<m>/event<id>), a bounded news-slug family, and a
    static /about page — one hash agg keyed by template."""
    from corpus_lab.operators.url_ops import url_trap_patterns
    d = _t(spark, sf_dir, "documents")
    did, src = F.col("doc_id"), F.col("source")
    url = (F.when(did % 4 == 0,
                  F.concat(F.lit("https://"), src,
                           F.lit(".example.org/cal/"),
                           (2020 + did % 5).cast("string"), F.lit("/"),
                           (1 + did % 12).cast("string"),
                           F.lit("/event"), did.cast("string")))
           .when(did % 4 == 1,
                 F.concat(F.lit("https://"), src,
                          F.lit(".example.org/news/story-"),
                          (did % 7).cast("string")))
           .otherwise(F.concat(F.lit("https://"), src,
                               F.lit(".example.org/about"))))
    return url_trap_patterns(d.select("doc_id", url.alias("url")),
                             min_distinct=10)


def q_corruption_spans(spark, sf_dir):
    """T5/UL2 span-corruption mask construction
    (operators/corruption.py): reproducible mask islands from the
    content-stable md5 draw (1/20 start rate, 3-token spans, clipped,
    adjacent islands merged via a per-doc gaps-and-islands window) —
    the rand(seed)-free way to regenerate byte-identical denoising
    targets on any partitioning or resume."""
    from corpus_lab.operators.corruption import corruption_spans
    return corruption_spans(_t(spark, sf_dir, "documents"),
                            span_len=3, den=20)


def q_vocab_divergence(spark, sf_dir):
    """Corpus drift metrology (operators/drift.py): add-one-smoothed
    union-vocab KL both ways + Jensen-Shannon divergence between the
    even- and odd-doc_id corpus halves.  Per-token terms are rounded
    to exact scaled int64 BEFORE the aggregation (float sums are
    association-order-dependent; integer sums are not), one final
    rescale — ln/division parity on identical doubles is already
    load-bearing for the oracle-green bm25/lm_score oracles."""
    from corpus_lab.operators.drift import vocab_divergence
    d = _t(spark, sf_dir, "documents")
    return vocab_divergence(d.filter(F.expr("doc_id % 2 = 0")),
                            d.filter(F.expr("doc_id % 2 = 1")))


def q_hard_negatives(spark, sf_dir):
    """Cross-class hard-negative mining (operators/contrastive.py,
    the FaceNet/DPR triplet recipe): each anchor's 4 nearest
    DIFFERENT-label vectors by the exact-int64 scaled cosine (the
    bitext rc contract), ranked per anchor with id tie-break.  Brute
    within the standard vec_id < 1000 cap — the exact verify; the
    scale path swaps in the LSH/IVF candidate generators."""
    from corpus_lab.operators.contrastive import hard_negatives
    return hard_negatives(_cappedemb(spark, sf_dir), k=4)


def q_unimax_select(spark, sf_dir):
    """UniMax budgeted language sampling (operators/unimax.py, Chung et
    al. ICLR'23): ascending-size budget allocation with a hard
    2-epoch repetition cap (exact int64 arithmetic, driver loop over
    the tiny per-language totals == the oracle's recursive CTE), then
    the greedy md5-draw-ordered doc prefix per language within its
    allocation.  Languages from oracle-green lang_id, tokens from the
    oracle-green token_count contract."""
    from corpus_lab.operators.text_analysis import (lang_id,
                                                        token_count)
    from corpus_lab.operators.unimax import unimax_select
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    d = lang_id(d, "text", out="lang").select(
        "doc_id", "lang",
        token_count(F.col("text")).cast("long").alias("tok"))
    return unimax_select(d, budget=10_000, max_epochs=2)


def q_pr_curve(spark, sf_dir):
    """Precision/recall/F1 curve of the quality-score filter against
    the is-English label (operators/eval_metrics.py): ONE corpus-sized
    hash agg onto the quantized score grid, curve assembly on the
    bounded grid relation.  Exact int64 confusion counts; ratios are
    single divisions rounded to 6 dp."""
    from corpus_lab.operators.eval_metrics import pr_curve
    return pr_curve(_scored_labeled_docs(spark, sf_dir),
                    "quality_score", "label", decimals=6)


def q_roc_auc(spark, sf_dir):
    """Exact tie-corrected ROC-AUC (midrank Mann-Whitney) of the
    quality score as an is-English ranker: every intermediate an exact
    int64 (2*sum of positive midranks), one final division — no float
    accumulation anywhere, so both engines agree bit-exactly."""
    from corpus_lab.operators.eval_metrics import roc_auc
    return roc_auc(_scored_labeled_docs(spark, sf_dir),
                   "quality_score", "label", decimals=6)


def q_bitext_margin(spark, sf_dir):
    """Margin-based bitext mining (operators/bitext.py, Artetxe &
    Schwenk's ratio margin / the CCMatrix recipe): mutually-top-1
    cross-set pairs scored by cos(x,y) over the mean of both sides'
    top-4 neighborhood cosines — the hub-suppressing alternative to raw
    nearest-neighbor matching.  Sides = even/odd label over the fixed
    vec_id < 1000 cap (the engine's standard brute-baseline contract);
    the cosine is rounded to an exact int64 (round(cos*1e6)) before any
    aggregation so both engines' top-k sums match bit-exactly; the
    scale path is margin_mining_lsh (bucket equi-join candidates)."""
    from corpus_lab.operators.bitext import margin_mining
    e = _cappedemb(spark, sf_dir)
    return margin_mining(e.filter(F.col("label") % 2 == 0),
                         e.filter(F.col("label") % 2 == 1), k=4)


def q_snm_near_dup(spark, sf_dir):
    """Sorted-neighborhood near-dup (operators/snm.py, Hernandez &
    Stolfo's merge/purge): the SORT-based blocking alternative to the
    MinHash/SimHash/LSH hash-banding family.  Corpus ranked by an
    order-preserving int64 packing of the normalized 10-char text
    prefix (two-phase distributed rank, never a global window), each
    row compared to its 8 rank successors via ONE bucket equi-join,
    survivors verified by thresholded exact Levenshtein <= 12.  The
    oracle replays the identical key packing and a naive global-window
    rank + rank-distance join + full-DP levenshtein."""
    from corpus_lab.operators.snm import snm_near_dup
    return snm_near_dup(_t(spark, sf_dir, "documents"),
                        window=8, max_dist=12)


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (operators/search.py::
    rrf_fusion, Cormack et al. SIGIR'09) of the BM25 lexical top-20 and
    the dense cosine top-10 — the two already-oracled rankings fused on
    scale-free RANKS (k=60).  Both inputs are top-n-bounded, so the
    rank windows are constant-size at any corpus scale."""
    from corpus_lab.operators.search import rrf_fusion
    bm = q_bm25_search(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("score"))
    dn = q_cosine_topk(spark, sf_dir).select(
        F.col("vec_id").alias("id"), F.col("cosine").alias("score"))
    return rrf_fusion([bm, dn], k=60, id_col="id", top_n=20)


def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous label-propagation communities
    (operators/components.py::label_propagation): 3 pinned rounds,
    min-label ties, over the same deterministic link graph as
    q_pagerank/q_hits.  The oracle unrolls the 3 rounds as CTEs with a
    row_number argmax — one wrong vote count or tiebreak anywhere
    diverges the labels."""
    from corpus_lab.operators.components import label_propagation
    d = _t(spark, sf_dir, "documents").filter(F.expr("doc_id % 4 > 0"))
    e = (d.select(F.col("doc_id").alias("src"),
                  F.explode(F.expr(
                      "sequence(1, CAST(doc_id % 4 AS INT))")).alias("j"))
         .select("src",
                 ((F.col("src") * 31 + F.col("j") * 97) % 1000).alias("dst")))
    pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    return label_propagation(pairs, rounds=3)


def q_containment(spark, sf_dir):
    """Asymmetric shingle containment (text_dedup.containment_pairs):
    catches quote/excerpt inclusion that Jaccard and MinHash structurally
    miss.  Blocking = rare-shingle inverted index (df in [2, 50]), verify
    = exact array_intersect on candidates; the oracle replays the df
    window and both direction ratios."""
    from corpus_lab.operators.text_dedup import containment_pairs
    d = _t(spark, sf_dir, "documents")
    d = d.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
    return containment_pairs(d, threshold=0.5, shingle_n=2,
                             min_df=2, max_df=50)


def q_clustering_coeff(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient
    (operators/hits.py::clustering_coefficient, Schank-Wagner
    compact-forward) over a deterministic community graph (consecutive-
    offset edges) — the link-ring/spam-farm density signal.  Each
    triangle is counted exactly once via the low-id edge orientation;
    the oracle replays wedges, closures, degrees, and the coefficient."""
    from corpus_lab.operators.hits import clustering_coefficient
    d = _t(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    dir_edges = (
        ids.select(F.col("doc_id").alias("a"),
                   (F.col("doc_id") + 1).alias("b"))
        .unionByName(ids.filter(F.expr("doc_id % 2 = 0"))
                     .select(F.col("doc_id").alias("a"),
                             (F.col("doc_id") + 2).alias("b")))
        .unionByName(ids.filter(F.expr("doc_id % 3 = 0"))
                     .select(F.col("doc_id").alias("a"),
                             (F.col("doc_id") + 3).alias("b"))))
    return clustering_coefficient(dir_edges)


def q_fuzzy_contamination(spark, sf_dir):
    """NEAR-duplicate benchmark decontamination (text_dedup.
    fuzzy_contamination, the Dolma recipe): paraphrase-tolerant leak
    report that exact 8-gram contamination_check misses.  Cross-relation
    MinHash banding (train x bench only, bench side broadcast), exact
    Jaccard verify on candidates."""
    from corpus_lab.operators.text_dedup import fuzzy_contamination
    d = _t(spark, sf_dir, "documents")
    d = d.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
    train = d.filter(F.expr("doc_id % 10 <> 0"))
    bench = d.filter(F.expr("doc_id % 10 = 0"))
    return fuzzy_contamination(train, bench, threshold=0.2)


def q_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss projection 64 -> 16 dims
    (similarity.random_projection) with the standard Gaussian map
    hyperplanes/sqrt(k), seeded — the dimensionality-reduction front-end
    for dense pair mining.  Zero shuffle; the oracle embeds the same
    plane constants and replays every dot product."""
    import numpy as np
    from corpus_lab.operators.similarity import (
        hyperplanes, random_projection)
    e = _t(spark, sf_dir, "embeddings")
    planes = hyperplanes(64, 16, seed=7, dtype=np.float64) / np.sqrt(16.0)
    return random_projection(e, planes)


def q_corpus_overlap(spark, sf_dir):
    """Cross-snapshot overlap estimation from bottom-k sketches
    (operators/sketch.py::corpus_overlap_estimate, Beyer et al.
    SIGMOD'07): two overlapping corpus slices (doc_id%2==0 vs %3==0)
    compared by shipping 2k hashes instead of joining the corpora — the
    planning primitive for cross-snapshot dedup.  Deterministic md5
    contract, so the oracle replays the estimator EXACTLY."""
    from corpus_lab.operators.sketch import corpus_overlap_estimate
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.expr("doc_id % 2 = 0"))
    b = d.filter(F.expr("doc_id % 3 = 0"))
    return corpus_overlap_estimate(a, b, value_col="text", k=256)


def q_group_split(spark, sf_dir):
    """Leakage-safe GROUP-level dataset split (text_analysis.
    assign_group_split): hash the publisher, not the doc id, so a
    domain's templated near-dups can never straddle train/test.  Output
    is the per-(source, split) census — one split per source by
    construction."""
    from corpus_lab.operators.text_analysis import assign_group_split
    d = _t(spark, sf_dir, "documents")
    return (assign_group_split(d, group_col="source", val_frac=0.1,
                               test_frac=0.1, salt="gsplit-v1")
            .groupBy("source", "split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars")))


_PACKED128_CACHE: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _packed128(spark, sf_dir):
    """Memoized packed interleaved-span relation per (session, sf_dir),
    localCheckpoint'd once: all three interleaved queries (pack layout,
    per-sequence stats, body assembly) consume the IDENTICAL packed
    relation, so the synthesis + triple-execution prefix sum — the
    expensive half — runs once.  Same weak-keyed lifecycle as _sig60;
    the pinned relation is span-sized (one short row per span)."""
    global _PACKED128_CACHE
    import weakref
    if _PACKED128_CACHE is None:
        _PACKED128_CACHE = weakref.WeakKeyDictionary()
    per_session = _PACKED128_CACHE.setdefault(spark, {})
    packed = per_session.get(sf_dir)
    if packed is None:
        from corpus_lab.operators.interleaved import (
            pack_interleaved_sequences,
            synth_interleaved_spans,
        )
        d = _t(spark, sf_dir, "documents")
        packed = pack_interleaved_sequences(
            synth_interleaved_spans(d), seq_len=128,
            materialize_input=True,
        ).localCheckpoint(eager=True)
        per_session[sf_dir] = packed
    return packed


def q_interleaved_pack(spark, sf_dir):
    """MMC4/OBELICS interleaved multimodal sequence packing: deterministic
    spans (7-word text spans, an image ref after every 3 text spans, a
    trailing video ref on every 4th doc — built from pure JVM
    expressions), costed (text = token count, image = 16, video = 32
    placeholder tokens), laid on one global token axis by the two-phase
    distributed prefix sum (NO global window), and cut into 128-token
    sequences with spans atomic.  The DuckDB oracle re-derives every
    span's interleaved position, cost, global start offset, and
    (seq_id, seq_pos) from the rule alone."""
    packed = _packed128(spark, sf_dir)
    return packed.select("doc_id", "span_idx", "kind", "media_ref",
                         "tok_cost", "start_tok", "seq_id", "seq_pos")


def q_interleaved_seq_stats(spark, sf_dir):
    """Per-sequence composition report over the packed interleaved
    spans: span/image/video counts, text-vs-placeholder token split,
    docs per sequence — one map-side-combinable aggregation on top of
    q_interleaved_pack's plan (the packed relation is shared across the
    interleaved family via _packed128)."""
    from corpus_lab.operators.interleaved import (
        interleaved_sequence_stats,
    )
    return interleaved_sequence_stats(_packed128(spark, sf_dir))


def q_interleaved_assembly(spark, sf_dir):
    """End-to-end interleaved sequence materialization: the packed spans
    re-joined per sequence into the model-ready body string (text
    verbatim, media refs as alignment-preserving <kind:REF> sentinels).
    The DuckDB oracle rebuilds every body with string_agg ordered by the
    same within-sequence offset — one span out of order, mis-packed, or
    mis-sentineled anywhere breaks the hash (packed relation shared via
    _packed128)."""
    from corpus_lab.operators.interleaved import assemble_sequences
    return assemble_sequences(_packed128(spark, sf_dir))


def q_mjpeg_decode_stats(spark, sf_dir):
    """From-scratch motion-JPEG video decode, oracle-checked:
    synth_mjpeg_media emits real raw MJPEG streams (concatenated
    baseline JPEGs, 2-4 flat-block grayscale frames each; kernel/jpegx
    decode_mjpeg walks frame boundaries via the marker walk + required
    EOI, never a byte scan), and the DuckDB oracle re-derives frame
    count, dims, and the exact total decoded pixel sum from the
    synthesis rule — a wrong frame boundary or any single-frame decode
    bug breaks the hash."""
    from corpus_lab.operators.multimodal import decode_stats
    stats = decode_stats(_mjpegmedia(spark, sf_dir))
    return stats.select("media_id", "kind", "decoded", "width", "height",
                        "px_sum", "n_frames")


def q_mjpeg_frame_sample(spark, sf_dir):
    """REAL video frame sampling (every 2nd frame of each MJPEG stream)
    with integer-exact per-frame stats; the DuckDB oracle re-derives
    each sampled frame's pixel sum from the synthesis rule, so both the
    sampling stride and the per-frame decode are checked."""
    from corpus_lab.operators.multimodal import sample_frames
    return sample_frames(_mjpegmedia(spark, sf_dir), every_n=2)


def q_gif_decode_stats(spark, sf_dir):
    """From-scratch GIF decode, oracle-checked: synth_gif_media emits
    real 256-color GIF87a frames (operators/multimodal.py decode_gif
    does the descriptor walk + from-scratch LZW with variable code
    widths + palette mapping), and the DuckDB oracle re-derives width/
    height and the exact decoded RGB byte sum from the synthesis rule —
    one wrong LZW code width, dictionary entry, or palette lookup
    anywhere breaks the hash."""
    from corpus_lab.operators.multimodal import (
        decode_stats,
        synth_gif_media,
    )
    d = _t(spark, sf_dir, "documents")
    stats = decode_stats(synth_gif_media(d))
    return stats.select("media_id", "kind", "decoded", "width", "height",
                        "px_sum")


def q_incremental_dedup(spark, sf_dir):
    """Incremental dedup against a PERSISTED MinHash band index (the
    production delta shape: today's crawl vs the existing corpus, corpus
    text never rescanned).  Index = docs with doc_id%3==0; batch = the
    rest PLUS exact copies of half the index docs (doc_id+10M) — the
    copies must collide on every band and drop; originals survive unless
    they genuinely near-dup an index doc.  Two narrow joins: band-key
    semi join (broadcast — early-corpus regime) + id anti join."""
    from corpus_lab.operators.incremental import (
        build_signature_index, dedup_against_index)
    d = (_t(spark, sf_dir, "documents")
         .filter(F.size(F.split(F.trim("text"), r"\s+")) >= 2)
         .select("doc_id", "text"))
    index_docs = d.filter(F.col("doc_id") % 3 == 0)
    replayed = index_docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
    batch = d.filter(F.col("doc_id") % 3 != 0).unionByName(replayed)
    idx = build_signature_index(index_docs, n_hashes=4, rows_per_band=2)
    surv = dedup_against_index(batch, idx, n_hashes=4, rows_per_band=2,
                               broadcast_index=True)
    return surv.select("doc_id")


def q_quality_gate(spark, sf_dir):
    """Fused one-pass quality gate (C4 + Gopher-style rules in ONE
    projection over the raw scan) in audit mode: every doc with its
    first-failing-rule attribution.  At 100 TB this is the stage that
    keeps 50-90% of raw docs out of every downstream shuffle.  Shares
    the memoized _qgate relation with gate_reason_counts."""
    g = _qgate(spark, sf_dir)
    return g.select("doc_id", "n_tokens", "quality_score",
                    "dup_gram_frac", "reject_reason")


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key over two bucketized dimensions —
    the write-side layout that makes parquet/Iceberg min/max stats prune
    on EVERY interleaved dimension, not just the sort column.  Pure
    shift/and/or JVM expressions, one projection, no shuffle here (the
    layout shuffle is cluster_by_zorder, exercised in tests)."""
    from corpus_lab.operators.layout import zorder_key
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(F.col("n_chars"), F.lit(1023)).alias("d1"),
        (F.col("doc_id") % 1024).alias("d2"))
    return d.select("doc_id",
                    zorder_key(["d1", "d2"], bits=10).cast("long")
                    .alias("zkey"))


def q_hits(spark, sf_dir):
    """HITS hubs & authorities (3 rounds, L1-normalized, 9-digit
    per-round rounding) over the same deterministic link graph as
    q_pagerank — the crawl-prioritization companion: authority ranks
    extraction targets, hub ranks link-discovery refetches."""
    from corpus_lab.operators.hits import hits
    d = _t(spark, sf_dir, "documents").filter(F.expr("doc_id % 4 > 0"))
    e = (d.select(F.col("doc_id").alias("src"),
                  F.explode(F.expr(
                      "sequence(1, CAST(doc_id % 4 AS INT))")).alias("j"))
         .select("src",
                 ((F.col("src") * 31 + F.col("j") * 97) % 1000).alias("dst")))
    return hits(e, iters=3)


def q_html_metadata(spark, sf_dir):
    """Page-head metadata extraction (kernel/metax.py, operators/
    metadata.py): per-doc synth HTML built in-plan with pure JVM exprs in
    FOUR head shapes (doc_id%4) exercising the full og:/JSON-LD/<title>/
    <h1> fallback chain, entity decode (&amp;/&copy;), uppercase+swapped
    attributes, link-canonical vs og:url precedence and the meta-tag
    counter; the from-scratch head kernel parses it back and the oracle
    replays the documented precedence contract directly from the case
    rule — any tokenizer, attr-parse, JSON-LD or precedence defect
    breaks value equality."""
    from corpus_lab.operators.metadata import extract_metadata_df
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("n_chars") >= 50))
    head = _synth_meta_head()
    c = F.col("doc_id") % 4
    body = F.when(
        c == 3,
        F.concat(F.lit("<p>lead</p><h1>H <b>"), F.col("source"),
                 F.lit("</b> end</h1>")),
    ).otherwise(F.lit("<p>body</p>"))
    html = F.concat(F.lit("<html><head>"), head, F.lit("</head><body>"),
                    body, F.lit("</body></html>"))
    out = extract_metadata_df(
        d.select("doc_id", html.alias("html")), html_col="html")
    # absent-field NULLs -> '' so the order-insensitive value compare can
    # sort rows (same convention as the other nullable-output queries)
    return out.select(
        "doc_id",
        *[F.coalesce(F.col(k), F.lit("")).alias(k)
          for k in ("headline", "author", "description", "canonical_url",
                    "image", "published", "title")],
        "n_meta_tags")


def _synth_meta_head():
    """The four-shape synth head shared by html_metadata and page_bundle
    (documented case rule doc_id%4; oracles replay it directly)."""
    did = F.col("doc_id").cast("string")
    w = F.trim(F.substring("text", 1, 24))
    head0 = F.concat(
        F.lit('<meta property="og:title" content="OG &amp; '),
        F.col("source"),
        F.lit('"><meta property="og:description" content="D '),
        F.col("lang"),
        F.lit('"><meta property="og:image" content="https://img.example/'),
        did,
        F.lit('.jpg"><meta property="article:published_time" '
              'content="2025-03-01T00:00:00Z">'
              '<META NAME="author" CONTENT="M '),
        F.col("source"),
        F.lit('"><link rel="canonical" href="https://'), F.col("source"),
        F.lit('.example.org/p/'), did,
        F.lit('"><title>T '), did, F.lit("</title>"))
    head1 = F.concat(
        F.lit('<script type="application/ld+json">'
              '{"@type":"NewsArticle","headline":"LD '),
        F.col("source"),
        F.lit('","author":{"name":"A '), F.col("lang"),
        F.lit('"},"datePublished":"2025-02-1'),
        (F.col("doc_id") % 9).cast("string"),
        F.lit('"}</script><title>T '), did, F.lit("</title>"))
    head2 = F.concat(
        F.lit("<title>T "), did, F.lit(" &copy; "), w,
        F.lit('</title><meta name="description" content="d '),
        F.col("lang"),
        F.lit('"><meta name="date" content="2024-12-2'),
        (F.col("doc_id") % 2).cast("string"), F.lit('">'))
    c = F.col("doc_id") % 4
    return (F.when(c == 0, head0).when(c == 1, head1)
             .when(c == 2, head2).otherwise(F.lit("")))


def q_table_extract(spark, sf_dir):
    """HTML table extraction to a flat cell grid (kernel/tablex.py,
    operators/tables.py): per-doc synth pages built in-plan — a 3x3
    header+data table (th vs td, nested <b> markup, numeric casts) plus,
    for every 5th doc, a SECOND table with an entity-bearing cell, so
    table indexing, header detection, markup flattening and entity decode
    are all oracle-checked; the oracle replays the exact cell grid from a
    VALUES lattice.  Stage is scan-shaped (mapInPandas, no shuffle)."""
    from corpus_lab.operators.tables import extract_tables_df
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("n_chars") >= 50))
    did = F.col("doc_id").cast("string")
    t0 = F.concat(
        F.lit("<table><tr><th>Name</th><th>Lang</th><th>Chars</th></tr>"
              "<tr><td>"), F.col("source"),
        F.lit("</td><td>"), F.col("lang"),
        F.lit("</td><td>"), F.col("n_chars").cast("string"),
        F.lit("</td></tr><tr><td>w "),
        F.trim(F.substring("text", 1, 12)),
        F.lit("</td><td><b>"), F.upper(F.col("lang")),
        F.lit("</b></td><td>"), (F.col("doc_id") % 97).cast("string"),
        F.lit("</td></tr></table>"))
    t1 = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("<table><tr><td>x &amp; "), did,
                 F.lit("</td></tr></table>")),
    ).otherwise(F.lit(""))
    html = F.concat(F.lit("<html><body><p>lead</p>"), t0, t1,
                    F.lit("</body></html>"))
    return extract_tables_df(d.select("doc_id", html.alias("html")))


def _links_df(spark, sf_dir):
    """Shared synth-outlink relation for link_extract / anchor_index:
    per-doc HTML with an absolute hub link, a relative link (RFC 3986
    merge), and a nofollow parent-directory link with an entity-bearing
    anchor; pseudo-links (#fragment) must be dropped by the kernel."""
    from corpus_lab.operators.links import extract_links_df
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("n_chars") >= 50))
    base = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example.org/sec/"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit("/page.html"))
    html = F.concat(
        F.lit('<p><a href="https://hub.example/t/'),
        (F.col("doc_id") % 50).cast("string"),
        F.lit('">hub '), F.col("lang"),
        F.lit('</a> <a href="item'), (F.col("doc_id") % 10).cast("string"),
        F.lit('.html"><b>rel</b> '), F.col("source"),
        F.lit('</a> <a href="../top" rel="ugc nofollow">A &amp; B '),
        F.col("source"),
        F.lit('</a> <a href="#skip">not a link</a></p>'))
    return extract_links_df(
        d.select("doc_id", html.alias("html"), base.alias("base_url")))


def q_link_extract(spark, sf_dir):
    """Outlink mining (kernel/linkx.py, operators/links.py): tokenizer
    walk -> anchor flatten (entities, nested markup, HTML5 a-autoclose)
    -> RFC 3986 relative resolution (merge + dot segments, fragment
    strip); the oracle replays resolution arithmetic from the synth
    rule.  Scan-shaped, no shuffle."""
    return _links_df(spark, sf_dir)


def q_anchor_index(spark, sf_dir):
    """Anchor-text index over the outlink relation: per-target link and
    distinct-doc counts, nofollow tally, and the sorted distinct anchor
    set (joined to one string for the cross-engine hash) — the classic
    web-search target-description signal.  ONE map-side-combining
    hash-agg shuffle of compact link rows."""
    from corpus_lab.operators.links import anchor_text_index
    idx = anchor_text_index(_links_df(spark, sf_dir))
    return idx.select(
        "target_url", "n_links", "n_docs", "n_nofollow",
        F.array_join("anchors", "|").alias("anchors_joined"))


def q_page_bundle(spark, sf_dir):
    """Fused full-page extraction (operators/full_page.py): ONE Arrow
    pass produces body spans + head metadata + resolved outlinks + table
    census from the same tokenize/DOM work (the 100 TB scan-fusion
    shape; separate-stage equality locked in tests/test_full_page.py).
    Synth pages reuse the html_metadata head case rule (doc_id%4), put
    the document text first in the body (so the first span is the
    full-text block), then an anchor paragraph and the 3x3+second-table
    grid from table_extract.  The oracle replays headline/published from
    the head case rule, link/nofollow counts, cell counts (9 or 10), and
    the first span's text verbatim."""
    from corpus_lab.operators.full_page import extract_page_bundle_df
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("n_chars") >= 50))
    did = F.col("doc_id").cast("string")
    head = _synth_meta_head()
    table = F.concat(
        F.lit("<table><tr><th>Name</th><th>Lang</th><th>Chars</th></tr>"
              "<tr><td>a</td><td>b</td><td>c</td></tr>"
              "<tr><td>d</td><td>e</td><td>f</td></tr></table>"),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("<table><tr><td>x</td></tr></table>"))
         .otherwise(F.lit("")))
    html = F.concat(
        F.lit("<html><head>"), head, F.lit("</head><body><p>"),
        F.col("text"),
        F.lit('</p><p><a href="https://hub.example/t/'),
        (F.col("doc_id") % 50).cast("string"),
        F.lit('">hub</a> <a href="item'),
        (F.col("doc_id") % 10).cast("string"),
        F.lit('.html">rel</a> <a href="../top" rel="nofollow">up</a></p>'),
        table, F.lit("</body></html>"))
    base = F.concat(F.lit("https://"), F.col("source"),
                    F.lit(".example.org/sec/"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit("/page.html"))
    bundle = extract_page_bundle_df(
        d.select("doc_id", html.alias("html"), base.alias("base_url")))
    return bundle.select(
        "doc_id",
        F.coalesce("headline", F.lit("")).alias("headline"),
        F.coalesce("published", F.lit("")).alias("published"),
        F.size("links").alias("n_links"),
        F.aggregate(
            "links", F.lit(0),
            lambda acc, x: acc + x["nofollow"].cast("int"),
        ).alias("n_nofollow"),
        F.col("n_table_cells"),
        F.element_at(F.col("spans"), 1)["text"].alias("first_span_text"))


def q_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency OLS over the vocabulary head (drift.py):
    token agg -> TakeOrderedAndProject(top 300) -> O(top_k) rank window
    -> one sums agg.  Corpus-health metrology: the slope (~-1 natural
    text) flags template flooding / vocabulary collapse as one
    trendable number."""
    from corpus_lab.operators.drift import zipf_fit
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return zipf_fit(d, top_k=300)


def q_quantile_sketch(spark, sf_dir):
    """Deterministic mergeable quantile sketch (sketch.py): bottom-k
    md5(id) row sample (TakeOrderedAndProject — k rows per partition
    move, no corpus sort) -> pinned nearest-rank estimates.  Chosen over
    GK/KLL because those compactors are merge-order-sensitive; this
    sketch is order-free, mergeable by union+re-limit, and the oracle
    replays every sampled row and estimate EXACTLY."""
    from corpus_lab.operators.sketch import (
        quantile_sample_sketch, sketch_quantile_estimates)
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    sk = quantile_sample_sketch(d, "n_chars", id_col="doc_id", k=256)
    return sketch_quantile_estimates(sk)


def q_jsonl_ingest(spark, sf_dir):
    """JSONL ingest with error quarantine (sources/jsonl.py): JVM
    from_json + try_parse_json validity — no Python in the parse path;
    malformed lines (doc_id%13==0, truncated) and id-less lines (%13==1)
    become typed skip rows, never failures.  Oracle replays the line
    construction rule directly."""
    from corpus_lab.sources.jsonl import parse_jsonl_documents
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
        & F.col("source").isNotNull())
    did = F.col("doc_id").cast("string")
    good = F.concat(
        F.lit('{"doc_id": "j'), did, F.lit('", "text": "'),
        F.col("text"), F.lit('", "lang": "'), F.col("lang"),
        F.lit('", "source": "'), F.col("source"),
        F.lit('", "ts": "2025-01-0'),
        (F.col("doc_id") % 9 + 1).cast("string"), F.lit('"}'))
    noid = F.concat(F.lit('{"text": "orphan '), did, F.lit('"}'))
    broken = F.concat(F.lit('{"doc_id": "j'), did, F.lit('", "text": "tr'))
    c = F.col("doc_id") % 13
    line = (F.when(c == 0, broken).when(c == 1, noid).otherwise(good))
    parsed = parse_jsonl_documents(
        d.select(F.col("doc_id").alias("orig_id"), line.alias("line")))
    return parsed.select(
        "status",
        *[F.coalesce(F.col(k), F.lit("")).alias(k)
          for k in ("error", "doc_id", "text", "lang", "source", "ts")])


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit (operators/audit.py): equivalence classes over
    (lang, source, length-bucket) quasi-identifiers with fewer than k=3
    members — the rows re-identifiable by attribute combination after
    direct-identifier redaction.  One hash agg + post-agg filter."""
    from corpus_lab.operators.audit import k_anonymity_report
    d = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull())
    d = d.select("lang", "source",
                 (F.col("n_chars") % 16).alias("len_bucket"))
    return k_anonymity_report(d, ["lang", "source", "len_bucket"], k=3)


def q_k_anonymity_summary(spark, sf_dir):
    """One-row k-anonymity rollup: class counts, violators, exposed rows
    and the corpus's effective k (min class size)."""
    from corpus_lab.operators.audit import k_anonymity_summary
    d = _t(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull())
    d = d.select("lang", "source",
                 (F.col("n_chars") % 16).alias("len_bucket"))
    return k_anonymity_summary(d, ["lang", "source", "len_bucket"], k=3)


def _hyperball_edges(spark, sf_dir):
    """The deterministic link graph shared with pagerank/hits."""
    d = _t(spark, sf_dir, "documents").filter(F.expr("doc_id % 4 > 0"))
    return (d.select(F.col("doc_id").alias("src"),
                     F.explode(F.expr(
                         "sequence(1, CAST(doc_id % 4 AS INT))")).alias("j"))
            .select("src",
                    ((F.col("src") * 31 + F.col("j") * 97) % 1000)
                    .alias("dst"))
            .distinct())


def q_hyperball(spark, sf_dir):
    """HyperBall neighborhood function (operators/hyperball.py —
    Boldi-Vigna 2013): per-node HLL ball sketches grown one hop per
    round (union-max = HLL merge; ONE register-relation-sized shuffle
    per round, states localCheckpoint'd).  Every register and estimate
    is md5-deterministic, so the oracle replays N̂_t exactly from a
    bounded-depth reachability CTE — no tolerance band."""
    from corpus_lab.operators.hyperball import hyperball
    return hyperball(_hyperball_edges(spark, sf_dir), iters=2, p=6)


def q_harmonic_centrality(spark, sf_dir):
    """Truncated harmonic centrality from the hyperball relation:
    Σ_t (N̂_t - N̂_{t-1})/t — the web-graph centrality that stays finite
    on disconnected graphs.  Per-node lag window over T+1 rows (bounded
    by construction)."""
    from corpus_lab.operators.hyperball import (
        harmonic_centrality, hyperball)
    nf = hyperball(_hyperball_edges(spark, sf_dir), iters=2, p=6)
    return harmonic_centrality(nf)


def q_effective_diameter(spark, sf_dir):
    """Interpolated 90% effective diameter (ANF convention) from the
    hyperball neighborhood function: corpus N(t) on exact scaled-int
    sums, interpolation on a (T+1)-row relation."""
    from corpus_lab.operators.hyperball import (
        effective_diameter, hyperball)
    nf = hyperball(_hyperball_edges(spark, sf_dir), iters=2, p=6)
    return effective_diameter(nf, fraction=0.9)


def q_streaming_quantile_estimate(spark, sf_dir):
    """Streaming quantile arithmetic, oracle-checkable: two deterministic
    micro-batches through the EXACT incremental_quantile_sink protocol
    (per-batch bottom-k rows into batch_id partitions), then the
    distinct+re-limit min-k merge and pinned nearest-rank estimates.
    Min-k merge is batch-split blind, so the result equals the one-shot
    sketch over the whole corpus — the oracle re-derives exactly that."""
    import os
    import shutil

    from corpus_lab.streaming.sinks import (
        incremental_quantile_sink,
        streaming_quantile_estimate,
    )
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    path = os.path.join(
        "/tmp", "nrs_q_streaming_quantile",
        os.path.basename(os.path.normpath(sf_dir)))
    shutil.rmtree(path, ignore_errors=True)  # local test path; sinks on
    # object stores rely on the dynamic-overwrite replay protocol instead
    sink = incremental_quantile_sink(path, "n_chars", "doc_id", k=256)
    sink(d.filter(F.col("doc_id") % 2 == 0), 0)
    sink(d.filter(F.col("doc_id") % 2 == 1), 1)
    return streaming_quantile_estimate(spark, path, k=256)


def q_table_records(spark, sf_dir):
    """Header-keyed melt of the extracted cell grid (tables.py::
    table_records): data cells equi-joined to their header-row names,
    positional fallback for the headerless second table.  The oracle
    replays the melt from the same VALUES lattice as table_extract."""
    from corpus_lab.operators.tables import table_records
    return table_records(q_table_extract(spark, sf_dir))


def q_feed_discovery(spark, sf_dir):
    """RSS/Atom feed autodiscovery (metax.py::discover_feeds): the S1
    source bootstrap — site page -> the feed URL a news-rss registry
    stores.  Token-based rel matching, uppercase attrs, non-feed
    alternates ignored; oracle replays the synth case rule."""
    from corpus_lab.operators.metadata import discover_feeds_df
    d = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull())
    c = F.col("doc_id") % 3
    head = (F.when(c == 0, F.concat(
        F.lit('<link rel="alternate" type="application/rss+xml" '
              'href="/rss/'), F.col("source"),
        F.lit('.xml" title="Feed '), F.col("lang"), F.lit('">')))
        .when(c == 1, F.concat(
            F.lit("<LINK REL='ALTERNATE' TYPE='application/atom+xml' "
                  "HREF='/atom/"), F.col("source"),
            F.lit(".xml'><link rel=\"alternate\" type=\"text/html\" "
                  "href=\"/mobile\">")))
        .otherwise(F.lit('<link rel="stylesheet" href="/s.css">')))
    html = F.concat(F.lit("<html><head>"), head,
                    F.lit("</head><body><p>b</p></body></html>"))
    out = discover_feeds_df(d.select("doc_id", html.alias("html")))
    return out.select("doc_id", "feed_url", "kind",
                      F.coalesce("title", F.lit("")).alias("title"))


def q_meta_robots_gate(spark, sf_dir):
    """Meta-robots policy gate (metax.py::robots_directives): directive
    booleans + the derived train_ok (publisher opt-out of indexing/ML
    use) — the in-page counterpart of the RFC 9309 robots.txt gate;
    oracle replays the case rule."""
    from corpus_lab.operators.metadata import page_policy_df
    d = _t(spark, sf_dir, "documents")
    c = F.col("doc_id") % 5
    head = (F.when(c == 0, F.lit(
        '<meta name="robots" content="noindex, nofollow">'))
        .when(c == 1, F.lit('<meta name="ROBOTS" content="noai">'))
        .when(c == 2, F.lit('<meta name="googlebot" content="none">'))
        .when(c == 3, F.lit('<meta name="viewport" content="noindex">'))
        .otherwise(F.lit(
            '<meta name="robots" content="noarchive NOSNIPPET">')))
    html = F.concat(F.lit("<html><head>"), head,
                    F.lit("</head><body><p>b</p></body></html>"))
    return page_policy_df(d.select("doc_id", html.alias("html")))


def q_corpus_health(spark, sf_dir):
    """One-row corpus dashboard (corpus_stats.py::corpus_health_report):
    volume, diversity, exact duplicate rate, exact length percentiles —
    one pass of map-side-combinable aggs."""
    from corpus_lab.operators.corpus_stats import corpus_health_report
    return corpus_health_report(_t(spark, sf_dir, "documents"))


def q_subtitle_parse(spark, sf_dir):
    """SRT caption parsing (kernel/subx.py): synth two-cue SRT files
    built in-plan (markup in cue text, deterministic timestamps),
    parsed to time-aligned spans; oracle replays the construction rule
    (cue ordinals, millisecond arithmetic, tag strip)."""
    from corpus_lab.operators.subtitles import parse_subtitles_df
    d = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull())
    a = (F.col("doc_id") % 5).cast("string")
    c = (F.col("doc_id") % 9).cast("string")
    srt = F.concat(
        F.lit("1\n00:00:0"), a, F.lit(",000 --> 00:00:0"),
        (F.col("doc_id") % 5 + 5).cast("string"),
        F.lit(",500\nCue one "), F.col("source"),
        F.lit("\n\n2\n00:01:00,000 --> 00:01:0"), c,
        F.lit(",000\n<i>Cue</i> two "), F.col("lang"), F.lit("\n"))
    return parse_subtitles_df(d.select("doc_id", srt.alias("content")))


def q_exif_extract(spark, sf_dir):
    """EXIF provenance + GPS-PII extraction (kernel/exifx.py): synth
    JPEG+APP1 payloads built per doc (fields from id arithmetic, GPS on
    every 3rd doc, byte order alternating per id so BOTH endian decode
    paths run under the gate); the oracle replays every field — incl.
    the DMS->signed-decimal conversion — from the id rule."""
    from corpus_lab.operators.multimodal import (
        extract_exif_df, synth_exif_documents)
    d = _t(spark, sf_dir, "documents")
    payloads = synth_exif_documents(d.select("doc_id"))
    out = extract_exif_df(payloads)
    return out.select(
        "doc_id", "make", "model", "orientation", "datetime",
        F.coalesce(F.col("gps_lat"), F.lit(-999.0)).alias("gps_lat"),
        F.coalesce(F.col("gps_lon"), F.lit(-999.0)).alias("gps_lon"))


def q_id3_extract(spark, sf_dir):
    """ID3 audio-tag extraction (kernel/id3x.py): tag flavor rotates
    v2.3/v2.4/v1 by id so all three parse paths (plain + sync-safe
    frame sizes, v1 trailer) run under the gate; oracle replays the id
    rule."""
    from corpus_lab.operators.multimodal import (
        extract_id3_df, synth_id3_documents)
    d = _t(spark, sf_dir, "documents")
    return extract_id3_df(synth_id3_documents(d.select("doc_id")))


def q_mp3_frame_stats(spark, sf_dir):
    """MP3 frame-header metadata (kernel/mp3x.py): real sync walk +
    spec bitrate/samplerate tables over synthesized MPEG1 Layer III
    streams — CBR and VBR mixes, ID3v2 tags to skip on even ids — so
    duration/bitrate metadata is REAL parse output (the ID3/EXIF
    honesty posture; full DSP decode stays the marked stand-in).  The
    oracle re-derives every integer from the synthesis rule: one wrong
    frame-length computation, table entry, or tag skip breaks it."""
    from corpus_lab.operators.multimodal import (
        mp3_frame_stats_df, synth_mp3_documents)
    d = _t(spark, sf_dir, "documents")
    return mp3_frame_stats_df(synth_mp3_documents(d.select("doc_id")))


def q_mp3_sidecar_stats(spark, sf_dir):
    """Xing/Info/VBRI VBR sidecar metadata (kernel/mp3x.py
    parse_mp3_sidecar): exact frame count / stream bytes / duration
    from the first frame's sidecar header — the O(1) complement of
    mp3_frame_stats' frame walk.  The oracle
    re-derives every integer from the synthesis rule including the
    spec frame-length floor division (144*kbps*1000 // samplerate), so
    one wrong side-info offset, flag decode, or byte count breaks it;
    docs at id%5 in (3,4) carry NO sidecar (4 is genuinely VBR — the
    case where only the frame walk can tell) and must report NULLs."""
    from corpus_lab.operators.multimodal import (
        mp3_sidecar_stats_df, synth_mp3_sidecar_documents)
    d = _t(spark, sf_dir, "documents")
    return mp3_sidecar_stats_df(synth_mp3_sidecar_documents(
        d.select("doc_id")))


def q_mp4_box_stats(spark, sf_dir):
    """MP4/ISO-BMFF container metadata (kernel/mp4x.py): real
    length-prefixed box walk — ftyp brand, moov/mvhd timescale+duration
    (v0 and, in pytest, v1 64-bit), per-trak hdlr classification, tkhd
    16.16 dimensions — over synthesized containers whose stats are
    closed-form in doc_id.  The container complement of
    mp3_frame_stats: duration/track metadata is REAL parse output;
    H.264/AAC sample decode stays the marked decoded=False stand-in."""
    from corpus_lab.operators.multimodal import (
        mp4_box_stats_df, synth_mp4_documents)
    d = _t(spark, sf_dir, "documents")
    return mp4_box_stats_df(synth_mp4_documents(d.select("doc_id")))


def q_span_rebase(spark, sf_dir):
    """Offset-rebasing cleaning pass over interleaved spans
    (interleaved.py::rebase_span_offsets): a vowel-strip demo transform
    shifts every cumulative offset; media spans re-anchor by the kernel
    rule (sum of prior cleaned text lengths).  Pure codegen array
    arithmetic — the oracle replays the length sums directly."""
    from corpus_lab.operators.interleaved import rebase_span_offsets
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
        & F.col("source").isNotNull())
    spans = F.array(
        F.struct(F.lit("meta").alias("kind"),
                 F.concat(F.lit("meta  "), F.col("lang")).alias("text"),
                 F.lit(None).cast("string").alias("media_ref"),
                 F.lit(0).alias("offset")),
        F.struct(F.lit("img").alias("kind"),
                 F.lit(None).cast("string").alias("text"),
                 F.concat(F.lit("m"), F.col("doc_id").cast("string"))
                  .alias("media_ref"),
                 F.lit(0).alias("offset")),
        F.struct(F.lit("html").alias("kind"), F.col("text").alias("text"),
                 F.lit(None).cast("string").alias("media_ref"),
                 F.lit(0).alias("offset")),
        F.struct(F.lit("desc").alias("kind"),
                 F.concat(F.lit("d "), F.col("source")).alias("text"),
                 F.lit(None).cast("string").alias("media_ref"),
                 F.lit(0).alias("offset")))
    out = rebase_span_offsets(
        d.select("doc_id", spans.alias("spans")),
        lambda t: F.regexp_replace(t, "[aeiou]", ""))
    ex = out.select("doc_id", F.posexplode("spans").alias("idx", "s"))
    return ex.select(
        F.col("doc_id").cast("string").alias("doc_id"), "idx",
        F.col("s.kind").alias("kind"),
        F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
        F.col("s.offset").alias("offset"))


def q_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank / TrustRank (pagerank.py): restart + dangling
    mass return to a 4-node seed set over the shared link graph; nodes
    unreachable from the seeds score exactly 0.  2 iterations, 9-digit
    per-iteration rounding; oracle unrolls the same arithmetic (note the
    (1.0-0.85) literal — Python's 1.0-damping double is NOT 0.15)."""
    from corpus_lab.operators.pagerank import personalized_pagerank
    e = _hyperball_edges(spark, sf_dir)
    seeds = spark.createDataFrame([(0,), (7,), (13,), (21,)], "node long")
    return personalized_pagerank(e, seeds, iters=2)


def q_opml_import(spark, sf_dir):
    """OPML subscription import (kernel/opmlx.py): synth per-doc OPML
    (a categorized feed + a top-level feed; every 11th doc malformed and
    silently dropped) -> registry rows; oracle replays the construction
    rule."""
    from corpus_lab.sources.opml import registry_from_opml
    d = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull())
    did = F.col("doc_id").cast("string")
    good = F.concat(
        F.lit('<opml version="2.0"><head><title>S</title></head><body>'
              '<outline text="Cat '), F.col("lang"),
        F.lit('"><outline title="F1 '), F.col("source"),
        F.lit('" xmlUrl="https://feeds.example/'), did,
        F.lit('.xml" htmlUrl="https://'), F.col("source"),
        F.lit('.example"/></outline><outline title="F2" xmlUrl='
              '"https://feeds.example/top-'), did,
        F.lit('.xml"/></body></opml>'))
    opml = F.when(F.col("doc_id") % 11 == 0,
                  F.lit("<opml><body><outline")).otherwise(good)
    out = registry_from_opml(
        d.select(F.col("doc_id").alias("user_id"), opml.alias("opml")),
        id_col="user_id")
    return out.select(
        "user_id", "feed_url",
        F.coalesce("title", F.lit("")).alias("title"),
        F.coalesce("site_url", F.lit("")).alias("site_url"),
        F.coalesce("category", F.lit("")).alias("category"))


def _pagination_pages(spark, sf_dir):
    """Deterministic 4-page article chains over the doc-id line: page
    u_i points at u_{i+1} unless i%4==3 (chain tail); the corpus-end
    pointer dangles and must be dropped by the pages-only guard."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("u"), F.col("doc_id").cast("string"))
    nxt = F.when(F.col("doc_id") % 4 != 3,
                 F.concat(F.lit("u"),
                          (F.col("doc_id") + 1).cast("string")))
    text = F.concat(F.lit("T"), F.col("doc_id").cast("string"))
    return d.select(url.alias("url"), nxt.alias("next_url"),
                    text.alias("text"))


def q_pagination_chains(spark, sf_dir):
    """rel=next pagination-chain labeling (operators/pagination.py):
    bounded-round frontier expansion from the heads — frontier-sized
    shuffles, cycles/truncations surface as unassigned; the oracle
    replays chain_id/pos from the synth id rule."""
    from corpus_lab.operators.pagination import chain_positions
    return chain_positions(_pagination_pages(spark, sf_dir))


def q_pagination_assembly(spark, sf_dir):
    """Multi-page article reassembly: per-chain texts joined in position
    order (bounded per-chain sort); oracle = ordered string_agg over the
    same replayed chains."""
    from corpus_lab.operators.pagination import (
        assemble_chain_texts, chain_positions)
    pages = _pagination_pages(spark, sf_dir)
    return assemble_chain_texts(chain_positions(pages), pages)


def q_hreflang_clusters(spark, sf_dir):
    """Translation-cluster grouping from hreflang alternates
    (metax.py::hreflang_links + links.py::hreflang_clusters): docs in
    synth groups of 3 declaring each other en/fr/de; cluster_id = the
    LEXICOGRAPHIC min of the declared set (oracle replays with least(),
    incl. the digit-width boundary where 'u1000' < 'u999')."""
    from corpus_lab.operators.links import (
        hreflang_alternates_df, hreflang_clusters)
    d = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") - F.col("doc_id") % 3).cast("string")
    g1 = (F.col("doc_id") - F.col("doc_id") % 3 + 1).cast("string")
    g2 = (F.col("doc_id") - F.col("doc_id") % 3 + 2).cast("string")
    html = F.concat(
        F.lit('<html><head><link rel="alternate" hreflang="en" href="u'),
        g, F.lit('"><link rel="alternate" hreflang="fr" href="u'), g1,
        F.lit('"><link rel="alternate" hreflang="de" href="u'), g2,
        F.lit('"></head><body></body></html>'))
    url = F.concat(F.lit("u"), F.col("doc_id").cast("string"))
    alts = hreflang_alternates_df(
        d.select(url.alias("url"), html.alias("html")))
    return hreflang_clusters(alts)


def q_retry_schedule(spark, sf_dir):
    """Exponential-backoff refetch schedule (url_ops.py::
    retry_backoff_schedule — the reference's S2 retry loop as a crawl
    ledger): shiftleft power-of-two, cap, give-up flag; oracle replays
    the integer arithmetic (epoch seconds projected back to long for
    the tz-free value compare)."""
    from corpus_lab.operators.url_ops import retry_backoff_schedule
    d = _t(spark, sf_dir, "documents")
    fails = d.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") % 12).cast("int").alias("n_failures"),
        (F.lit(1_700_000_000) + F.col("doc_id")).alias("last_attempt_ts"))
    out = retry_backoff_schedule(fails)
    return out.select(
        "url", "backoff_secs",
        F.col("next_attempt_ts").cast("long").alias("next_epoch"),
        "give_up")




def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "hyperball": q_hyperball,
        "harmonic_centrality": q_harmonic_centrality,
        "effective_diameter": q_effective_diameter,
        "zipf_fit": q_zipf_fit,
        "quantile_sketch": q_quantile_sketch,
        "bitext_margin": q_bitext_margin,
        "pr_curve": q_pr_curve,
        "roc_auc": q_roc_auc,
        "vocab_divergence": q_vocab_divergence,
        "kn_bigram_probs": q_kn_bigram_probs,
        "hashed_ngram_score": q_hashed_ngram_score,
        "page_bundle": q_page_bundle,
        "pagination_assembly": q_pagination_assembly,
        "incremental_dedup": q_incremental_dedup,
        "incremental_components": q_incremental_components,
        "dedup_keep_best": q_dedup_keep_best,
        "audio_near_dup": q_audio_near_dup,
        "video_near_dup": q_video_near_dup,
        "cdc_revision_pairs": q_cdc_revision_pairs,
        "winnow_overlap": q_winnow_overlap,
        "html_metadata": q_html_metadata,
        "table_extract": q_table_extract,
        "table_records": q_table_records,
        "link_extract": q_link_extract,
        "anchor_index": q_anchor_index,
        "feed_discovery": q_feed_discovery,
        "meta_robots_gate": q_meta_robots_gate,
        "boilerplate_filter": q_boilerplate_filter,
        "exif_extract": q_exif_extract,
        "id3_extract": q_id3_extract,
        "subtitle_parse": q_subtitle_parse,
        "gif_decode_stats": q_gif_decode_stats,
        "g711_decode_stats": q_g711_decode_stats,
        "blocklist_scan": q_blocklist_scan,
        "winnow_fingerprints": q_winnow_fingerprints,
        "cdc_chunks": q_cdc_chunks,
        "cdc_chunks_gear": q_cdc_chunks_gear,
        "exact_substring_spans": q_exact_substring_spans,
        "personalized_pagerank": q_personalized_pagerank,
        "hits_scores": q_hits,
        "k_core": q_k_core,
        "adamic_adar": q_adamic_adar,
        "random_walks": q_random_walks,
        "dedup_clusters_star": q_dedup_clusters_star,
        "snm_near_dup": q_snm_near_dup,
        "simhash128_near_dup": q_simhash128_near_dup,
        "streaming_hll_estimate": q_streaming_hll_estimate,
        "streaming_quantile_estimate": q_streaming_quantile_estimate,
        "streaming_cms_estimate": q_streaming_cms_estimate,
        "heavy_hitters": q_heavy_hitters,
        "mp3_frame_stats": q_mp3_frame_stats,
        "mp4_box_stats": q_mp4_box_stats,
        "corpus_health": q_corpus_health,
        "span_rebase": q_span_rebase,
        "opml_import": q_opml_import,
        "pagination_chains": q_pagination_chains,
        "hreflang_clusters": q_hreflang_clusters,
        "retry_schedule": q_retry_schedule,
        "jsonl_ingest": q_jsonl_ingest,
        "k_anonymity": q_k_anonymity,
        "k_anonymity_summary": q_k_anonymity_summary,
        "cdc_shared_chunks": q_cdc_shared_chunks,
        "blocklist_verdict": q_blocklist_verdict,
        "gate_reason_counts": q_gate_reason_counts,
        "quality_gate": q_quality_gate,
        "zorder_layout": q_zorder_layout,
        "textrank_keywords": q_textrank,
        "split_sentences": q_split_sentences,
        "simhash_band_census": q_simhash_band_census,
        "pii_redact_extended": q_pii_redact_extended,
        "interleaved_seq_stats": q_interleaved_seq_stats,
        "interleaved_assembly": q_interleaved_assembly,
        "mjpeg_frame_sample": q_mjpeg_frame_sample,
        "corpus_shuffle": q_corpus_shuffle,
        "unimax_select": q_unimax_select,
        "negative_samples": q_negative_samples,
        "hard_negatives": q_hard_negatives,
        "corruption_spans": q_corruption_spans,
        "url_trap_patterns": q_url_trap_patterns,
        "fim_splits": q_fim_splits,
        "cms_token_counts": q_cms_token_counts,
        "bpe_pair_counts": q_bpe_pair_counts,
        "sampled_quantiles": q_sampled_quantiles,
        "script_profile": q_script_profile,
        "sq_topk": q_sq_topk,
        "sliding_passages": q_sliding_passages,
        "trending_counts": q_trending_counts,
        "char_entropy": q_char_entropy,
        "mojibake_repair": q_mojibake_repair,
        "dedup_audit": q_dedup_audit,
        "table_stats": q_table_stats,
        "skew_profile": q_skew_profile,
        "epoch_mix": q_epoch_mix,
        "image_dhash": q_image_dhash,
        "image_near_dup": q_image_near_dup,
        "audio_fingerprint": q_audio_fingerprint,
        "video_frame_dhash": q_video_frame_dhash,
        "sparse_cosine": q_sparse_cosine,
        "edit_distance_near_dup": q_edit_distance_near_dup,
        "hybrid_search": q_hybrid_search,
        "label_propagation": q_label_propagation,
        "containment": q_containment,
        "group_split": q_group_split,
        "corpus_overlap": q_corpus_overlap,
        "jl_projection": q_jl_projection,
        "fuzzy_contamination": q_fuzzy_contamination,
        "clustering_coeff": q_clustering_coeff,
        "interleaved_pack": q_interleaved_pack,
        "mjpeg_decode_stats": q_mjpeg_decode_stats,
        "nb_classifier": q_nb_classifier,
        "adpcm_decode_stats": q_adpcm_decode_stats,
        "jpeg_decode_stats": q_jpeg_decode_stats,
        "stratified_sample": q_stratified_sample,
        "paragraph_dedup": q_paragraph_dedup,
        "semdedup": q_semdedup,
        "dsir_select": q_dsir_select,
        "c4_line_filter": q_c4_line_filter,
        "png_decode_stats": q_png_decode_stats,
        "span_dedup": q_span_dedup,
        "pq_topk": q_pq_topk,
        "chunk_dedup": q_chunk_dedup,
        "contamination": q_contamination,
        "url_canonicalize": q_url_canonicalize,
        "url_dedup": q_url_dedup,
        "normalize_text": q_normalize_text,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "warc_extract": q_warc_extract,
        "windowed_counts": q_windowed_counts,
        "crawl_frontier": q_crawl_frontier,
        "salted_join": q_salted_join,
        "robots_filter": q_robots_filter,
        "lm_score": q_lm_score,
        "bm25_search": q_bm25_search,
        "bloom_anti_join": q_bloom_anti_join,
        "kmeans_assign": q_kmeans_assign,
        "frequent_ngrams": q_frequent_ngrams,
        "fetch_schedule": q_fetch_schedule,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "multimodal_features": q_multimodal_features,
        "publisher_stats": q_publisher_stats,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_token_count,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "minhash_pairs": q_minhash_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "cosine_topk": q_cosine_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "sessionize": q_sessionize,
        "latest_event": q_latest_event,
        "simhash_near_dup": q_simhash_near_dup,
        "simhash_wide_near_dup": q_simhash_wide_near_dup,
        "dedup_clusters": q_dedup_clusters,
        "pdf_parse": q_pdf_parse,
        "tfidf_top_terms": q_tfidf_top_terms,
        "dataset_split": q_dataset_split,
        "shard_packing": q_shard_packing,
        "concat_chunk": q_concat_chunk,
        "temperature_sample": q_temperature_sample,
        "language_quota": q_language_quota,
        "hll_distinct": q_hll_distinct,
        "pagerank": q_pagerank,
        "weighted_sample": q_weighted_sample,
        "rollup_counts": q_rollup_counts,
        "pivot_counts": q_pivot_counts,
        "ewma": q_ewma,
        "snapshot_diff": q_snapshot_diff,
        "length_histogram": q_length_histogram,
        "length_quantiles": q_length_quantiles,
        "uniform_sample": q_uniform_sample,
        "pmi_pairs": q_pmi_pairs,
        "pii_redact": q_pii_redact,
        "repetition_stats": q_repetition_stats,
        "mp3_sidecar_stats": q_mp3_sidecar_stats,
    }



_SHINGLES_CTE = """
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 2
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS s
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
)
"""

_MINHASH_BANDED_CTE = """
sig AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS mh
  FROM sh, (VALUES (0), (1), (2), (3)) seeds(seed)
  GROUP BY doc_id, seed
),
banded AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         string_agg(mh, '|' ORDER BY seed) AS band_key
  FROM sig GROUP BY doc_id, seed // 2
)"""


def _simhash_sql(n_bits: int = 16) -> str:
    n_hex = (n_bits + 3) // 4
    sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(n_bits)
    )
    bits = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)"
                      for j in range(n_bits))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, {n_hex}) AS BIGINT) AS h FROM toks
),
bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM bits
"""


def _banded_over_sql(rel: str, alias: str) -> str:
    """MinHash b=2 x r=2 band keys over an arbitrary (doc_id, text)
    relation — the parameterized form of _MINHASH_BANDED_CTE (which is
    pinned to `documents`), used where index and batch differ."""
    return f"""
{alias}_sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM {rel}) x,
       UNNEST(generate_series(1, len(t) - 1)) AS u(i)
),
{alias}_sig AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS mh
  FROM {alias}_sh, (VALUES (0), (1), (2), (3)) seeds(seed)
  GROUP BY doc_id, seed
),
{alias}_band AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         string_agg(mh, '|' ORDER BY seed) AS band_key
  FROM {alias}_sig GROUP BY doc_id, seed // 2
)"""


_COSINE_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id,
         round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
               (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(qv, qv))), 6) AS cosine
  FROM embeddings, q
)
SELECT vec_id, cosine FROM c ORDER BY cosine DESC, vec_id LIMIT 10
"""


def _lpa_sql(rounds: int = 3) -> str:
    """Unrolled synchronous LPA over the q_pagerank/q_hits link graph:
    per round, vote counts then a row_number argmax (count desc, label
    asc) — the SQL-deterministic mirror of Spark's max(struct(cnt,
    -label)) single-agg argmax."""
    ctes = ["""
e0 AS (
  SELECT doc_id AS src, unnest(generate_series(1, CAST(doc_id % 4 AS INT))) AS j
  FROM documents WHERE doc_id % 4 > 0
),
dir AS (SELECT src, (src * 31 + j * 97) % 1000 AS dst FROM e0),
edges AS (SELECT src, dst FROM dir UNION SELECT dst, src FROM dir),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""
c{r} AS (
  SELECT e.dst AS n, l.label, count(*) AS cnt
  FROM edges e JOIN l{r - 1} l ON l.node = e.src
  GROUP BY 1, 2
),
l{r} AS (
  SELECT n AS node, label FROM (
    SELECT n, label,
           row_number() OVER (PARTITION BY n ORDER BY cnt DESC, label) AS rn
    FROM c{r}) WHERE rn = 1
)""")
    return ("WITH " + ",".join(ctes)
            + f"\nSELECT node, label AS community FROM l{rounds}")


def _incremental_dedup_sql() -> str:
    return f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 2
),
idx_docs AS (SELECT doc_id, text FROM src WHERE doc_id % 3 = 0),
batch AS (
  SELECT doc_id, text FROM src WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM idx_docs WHERE doc_id % 2 = 0
),
{_banded_over_sql('idx_docs', 'i')},
{_banded_over_sql('batch', 'b')},
hits AS (
  SELECT DISTINCT b.doc_id
  FROM b_band b JOIN i_band i
    ON b.band = i.band AND b.band_key = i.band_key
)
SELECT doc_id FROM batch
WHERE doc_id NOT IN (SELECT doc_id FROM hits)
"""


def _quality_gate_sql(min_tokens: int = 5, max_tokens: int = 10000,
                      max_dup: float = 0.5, min_q: float = 0.3) -> str:
    return f"""
WITH f AS (
  SELECT doc_id, text,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS toks,
         CAST(len(regexp_extract_all(lower(text),
              '\\b(the|and|of|to|in|is|that|for|with|was)\\b')) AS DOUBLE) AS stop_hits,
         string_split_regex(trim(text), '\\s+') AS w
  FROM documents
),
g AS (
  SELECT *,
         CASE WHEN len(w) < 2 THEN 0.0
              ELSE 1.0 - CAST(len(list_distinct(list_transform(
                       range(1, len(w)),
                       i -> array_to_string(w[i:i+1], ' ')))) AS DOUBLE)
                   / CAST(len(w) - 1 AS DOUBLE)
         END AS dup_frac
  FROM f
),
r AS (
  SELECT doc_id, toks, stop_hits, dup_frac, text,
         CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN toks > 0 THEN n_alpha / toks ELSE 0.0 END AS mean_word_len,
         CASE WHEN toks > 0 THEN stop_hits / toks ELSE 0.0 END AS stop_ratio
  FROM g
),
s AS (
  SELECT doc_id, toks, stop_hits, dup_frac, text, mean_word_len,
         0.4 * alpha_ratio
         + 0.2 * least(stop_ratio * 4.0, 1.0)
         + 0.2 * (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                       THEN 1.0 ELSE 0.0 END)
         + 0.2 * (1 - least(digit_ratio + punct_ratio, 1.0)) AS score
  FROM r
)
SELECT doc_id,
       CAST(toks AS BIGINT) AS n_tokens,
       round(score, 6) AS quality_score,
       round(dup_frac, 6) AS dup_gram_frac,
       CASE WHEN toks < {min_tokens} THEN 'too_short'
            WHEN toks > {max_tokens} THEN 'too_long'
            WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum'
            WHEN contains(text, '{{') THEN 'code_brace'
            WHEN stop_hits < 2 THEN 'no_stopwords'
            WHEN NOT (mean_word_len >= 3 AND mean_word_len <= 10) THEN 'word_len'
            WHEN dup_frac > {max_dup} THEN 'repetitive'
            WHEN score < {min_q} THEN 'low_quality'
            ELSE 'pass' END AS reject_reason
FROM s
"""


def _hits_sql(iters: int = 3) -> str:
    """Mirror of operators/hits.py over the q_pagerank link graph:
    unrolled rounds, L1 normalizer as a scalar subquery over the raw-sum
    CTE, identical operation order, 9-digit rounding."""
    parts = ["""
edges AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
s0 AS (SELECT node, 1.0 AS hub, 1.0 AS auth FROM nodes)"""]
    for it in range(1, iters + 1):
        prev = f"s{it - 1}"
        parts.append(f"""
ar{it} AS (
  SELECT e.dst AS node, sum(p.hub) AS s
  FROM {prev} p JOIN edges e ON p.node = e.src GROUP BY e.dst
),
a{it} AS (
  SELECT n.node,
         round(coalesce(r.s, 0.0) / (SELECT sum(s) FROM ar{it}), 9) AS auth
  FROM nodes n LEFT JOIN ar{it} r ON n.node = r.node
),
hr{it} AS (
  SELECT e.src AS node, sum(a.auth) AS s
  FROM a{it} a JOIN edges e ON a.node = e.dst GROUP BY e.src
),
h{it} AS (
  SELECT n.node,
         round(coalesce(r.s, 0.0) / (SELECT sum(s) FROM hr{it}), 9) AS hub
  FROM nodes n LEFT JOIN hr{it} r ON n.node = r.node
),
s{it} AS (
  SELECT a.node, h.hub, a.auth
  FROM a{it} a JOIN h{it} h ON a.node = h.node
)""")
    return ("WITH " + ",".join(parts)
            + f"\nSELECT node, hub, auth FROM s{iters}")


def _zorder_sql() -> str:
    from corpus_lab.operators.layout import zorder_sql_expr
    return f"""
WITH z AS (
  SELECT doc_id, least(n_chars, 1023) AS d1, doc_id % 1024 AS d2
  FROM documents
)
SELECT doc_id, CAST({zorder_sql_expr(['d1', 'd2'], bits=10)} AS BIGINT) AS zkey
FROM z
"""


_CHAR_ENTROPY_SQL = """
WITH c AS (
  SELECT doc_id, list_filter(string_split(text, ''), x -> x <> '') AS ch
  FROM documents WHERE length(text) > 0
),
d AS (
  SELECT doc_id, ch, list_sort(list_distinct(ch)) AS dc,
         CAST(len(ch) AS DOUBLE) AS n
  FROM c
)
SELECT doc_id,
       CAST(len(ch) AS BIGINT) AS n_chars,
       CAST(len(dc) AS BIGINT) AS n_distinct,
       round(0.0 - list_reduce(
         list_concat([0.0], list_transform(dc, c2 ->
           (CAST(len(list_filter(ch, x -> x = c2)) AS DOUBLE) / n)
           * log2(CAST(len(list_filter(ch, x -> x = c2)) AS DOUBLE) / n))),
         (a, b) -> a + b), 6) AS char_entropy
FROM d
"""


def _mojibake_sql() -> str:
    """Single-sourced from operators/cleaning.MOJIBAKE_MAP: the oracle
    replays the injection, the alternation count, and the ordered
    replace chain with the exact same pinned table."""
    from corpus_lab.operators.cleaning import MOJIBAKE_MAP

    pattern = "|".join(k for k, _ in MOJIBAKE_MAP)
    repaired = "text"
    esc = lambda s: s.replace("'", "''")  # noqa: E731 — SQL literal quote
    for bad, good in MOJIBAKE_MAP:
        repaired = f"replace({repaired}, '{esc(bad)}', '{esc(good)}')"
    return f"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 1
                THEN 'Itâ€™s â€œbrokenâ€¦ cafÃ© Ã¼ber ' || text
              WHEN doc_id % 5 = 2
                THEN 'rÃ©sumÃ© â€“ faÃ§ade Â«' || text || 'Â»'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{pattern}')) AS BIGINT)
         AS n_mojibake,
       len(regexp_extract_all(text, '{pattern}')) > 0 AS is_damaged,
       {repaired} AS clean_text
FROM inj
"""


def _cdc_sql(w: int = 16, divisor: int = 64, src: str = "documents",
             prefix: str = "", tail: str | None = None) -> str:
    """Composable md5-anchor CDC replay: ``prefix`` prepends extra CTEs
    (e.g. an injected corpus), ``src`` names the (doc_id, text) input,
    ``tail`` overrides the final SELECT over the chunk CTE ``b``."""
    final = tail or """
SELECT doc_id, chunk_idx, chunk_start, chunk_len,
       md5(substr(text, chunk_start, chunk_len)) AS chunk_md5
FROM b"""
    return f"""
WITH {prefix}base AS (
  SELECT doc_id, text, length(text) AS n
  FROM {src} WHERE length(text) > 0
),
a AS (
  SELECT doc_id, text, n,
         list_concat([CAST(1 AS BIGINT)],
           list_filter(range(2, n - {w} + 2), p ->
             CAST('0x' || substr(md5(substr(text, CAST(p AS INT), {w})),
                                 1, 15) AS BIGINT) % {divisor} = 0))
           AS starts
  FROM base
),
e AS (
  SELECT doc_id, text, n, starts,
         unnest(range(1, len(starts) + 1)) AS i
  FROM a
),
b AS (
  SELECT doc_id, text,
         CAST(i AS INT) AS chunk_idx,
         CAST(starts[CAST(i AS INT)] AS INT) AS chunk_start,
         CAST((CASE WHEN i < len(starts)
                    THEN starts[CAST(i AS INT) + 1]
                    ELSE n + 1 END)
              - starts[CAST(i AS INT)] AS INT) AS chunk_len
  FROM e
)
{final}
"""


_CDC_REVISION_PREFIX = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         substr(text, 1, 200) || ' inserted edit marker '
           || substr(text, 201, length(text)) AS text
  FROM documents WHERE doc_id % 10 = 3
),
"""

_CDC_REVISION_TAIL = """,
occ AS (
  SELECT doc_id, md5(substr(text, chunk_start, chunk_len)) AS chunk_md5
  FROM b WHERE chunk_len >= 24
),
keep AS (
  SELECT chunk_md5 FROM occ GROUP BY chunk_md5 HAVING count(*) <= 4
),
p AS (SELECT occ.chunk_md5, occ.doc_id FROM occ JOIN keep USING (chunk_md5))
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM p x JOIN p y ON x.chunk_md5 = y.chunk_md5 AND x.doc_id < y.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3"""


def _winnow_overlap_sql(min_shared: int = 2, max_df: int = 50) -> str:
    """Full replay of q_winnow_overlap: inject the block-keyed shared
    passage, rebuild k=3/w=4 winnowing fingerprints (same chain as the
    winnow_fingerprints oracle), prune document-frequency > max_df
    hashes, then the self-join pair count."""
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 1
              THEN text || '{_WINNOW_SHARED_TOKENS}'
                   || CAST(doc_id // 8 AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM corpus
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         CAST('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15)
              AS BIGINT) AS h
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS u(i)
),
ng AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
starts AS (
  SELECT doc_id, s - 1 AS s
  FROM ng, UNNEST(generate_series(1, greatest(n - 3, 1))) AS u(s)
),
wins AS (
  SELECT st.doc_id, st.s, min({{'h': g.h, 'nj': -g.pos}}) AS m
  FROM starts st
  JOIN g ON g.doc_id = st.doc_id AND g.pos BETWEEN st.s AND st.s + 3
  GROUP BY st.doc_id, st.s
),
fp AS (SELECT DISTINCT doc_id, m.h AS h FROM wins),
dfc AS (SELECT h, count(*) AS nd FROM fp GROUP BY h),
pr AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfc USING (h)
       WHERE nd <= {max_df})
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM pr x JOIN pr y ON x.h = y.h AND x.doc_id < y.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


_CDC_SHARED_PREFIX = f"""corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 1 THEN text || '{_CDC_SHARED_PASSAGE}'
              ELSE text END AS text
  FROM documents
),
"""

_CDC_SHARED_TAIL = """,
sh AS (
  SELECT md5(substr(text, chunk_start, chunk_len)) AS chunk_md5,
         chunk_len, doc_id
  FROM b WHERE chunk_len >= 24
)
SELECT chunk_md5, CAST(chunk_len AS INT) AS chunk_len,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM sh GROUP BY chunk_md5, chunk_len HAVING count(DISTINCT doc_id) > 1"""


def _cdc_gear_sql(divisor: int = 64) -> str:
    """Positional replay of the gear anchor rule with the same derived
    GEAR table (single-sourced from operators/cdc)."""
    from corpus_lab.operators.cdc import _GEAR_WINDOW, GEAR

    g_list = "[" + ", ".join(str(v) for v in GEAR) + "]"
    terms = " + ".join(
        f"gg.g[(unicode(substr(text, CAST(p AS INT) - 1 - {j}, 1)) % 256)"
        f" + 1] * {1 << j}"
        for j in range(_GEAR_WINDOW))
    return f"""
WITH gg AS (SELECT {g_list} AS g),
base AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE length(text) > 0
),
a AS (
  SELECT doc_id, text, n,
         list_concat([CAST(1 AS BIGINT)],
           list_filter(range({_GEAR_WINDOW + 1}, n + 1),
                       p -> ({terms}) % {divisor} = 0)) AS starts
  FROM base, gg
),
e AS (
  SELECT doc_id, text, n, starts,
         unnest(range(1, len(starts) + 1)) AS i
  FROM a
),
b AS (
  SELECT doc_id, text,
         CAST(i AS INT) AS chunk_idx,
         CAST(starts[CAST(i AS INT)] AS INT) AS chunk_start,
         CAST((CASE WHEN i < len(starts)
                    THEN starts[CAST(i AS INT) + 1]
                    ELSE n + 1 END)
              - starts[CAST(i AS INT)] AS INT) AS chunk_len
  FROM e
)
SELECT doc_id, chunk_idx, chunk_start, chunk_len,
       md5(substr(text, chunk_start, chunk_len)) AS chunk_md5
FROM b
"""


def _dedup_audit_sql(threshold: float = 0.4, sample_mod: int = 5) -> str:
    """Recomposes the established minhash banding + shingle CTEs.  The
    precision leg thresholds the ROUNDED jaccard (the operator consumes
    ngram_jaccard_pairs' rounded output); the recall leg thresholds the
    raw ratio (the operator's internal threshold filter runs pre-round)."""
    return f"""
WITH {_SHINGLES_CTE}, {_MINHASH_BANDED_CTE},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ci AS (
  SELECT c.a, c.b, count(q.s) AS ni
  FROM cand c
  JOIN sh p ON p.doc_id = c.a
  LEFT JOIN sh q ON q.doc_id = c.b AND q.s = p.s
  GROUP BY 1, 2
),
cj AS (
  SELECT ci.a, ci.b,
         round(CAST(ni AS DOUBLE) / (na.n + nb.n - ni), 6) AS j
  FROM ci JOIN sz na ON na.doc_id = ci.a
          JOIN sz nb ON nb.doc_id = ci.b
),
prec AS (
  SELECT count(*) AS n_candidates,
         coalesce(sum(CASE WHEN j >= {threshold} THEN 1 ELSE 0 END), 0)
           AS n_true_candidates
  FROM cj
),
st AS (
  SELECT p.doc_id AS a, q.doc_id AS b, count(*) AS ni
  FROM sh p JOIN sh q ON q.s = p.s AND p.doc_id < q.doc_id
  WHERE p.doc_id % {sample_mod} = 0 AND q.doc_id % {sample_mod} = 0
  GROUP BY 1, 2
),
tj AS (
  SELECT st.a, st.b
  FROM st JOIN sz na ON na.doc_id = st.a
          JOIN sz nb ON nb.doc_id = st.b
  WHERE CAST(ni AS DOUBLE) / (na.n + nb.n - ni) >= {threshold}
),
rec AS (
  SELECT (SELECT count(*) FROM tj) AS n_sample_true,
         (SELECT count(*) FROM tj JOIN cand USING (a, b))
           AS n_sample_caught
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_true_candidates AS BIGINT) AS n_true_candidates,
       CASE WHEN n_candidates > 0
            THEN round(CAST(n_true_candidates AS DOUBLE) / n_candidates, 6)
       END AS precision_est,
       CAST(n_sample_true AS BIGINT) AS n_sample_true,
       CAST(n_sample_caught AS BIGINT) AS n_sample_caught,
       CASE WHEN n_sample_true > 0
            THEN round(CAST(n_sample_caught AS DOUBLE) / n_sample_true, 6)
       END AS recall_est
FROM prec, rec
"""


def _table_stats_sql(cols: tuple[str, ...] = (
        "doc_id", "text", "lang", "source", "n_chars")) -> str:
    parts = [f"""
SELECT '{c}' AS "column",
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_s,
       CAST(max({c}) AS VARCHAR) AS max_s
FROM documents""" for c in cols]
    return "\nUNION ALL\n".join(parts)


def oracle_sql() -> dict[str, str]:
    return {
        # dHash replay: pixel byte (7k+i)%256 in scanline order, gray =
        # (r+g+b)//3, NN grid src = min(dst*n//8, n-1), bit weight
        # y*7+x — the exact chain dhash_images runs over decoded PNGs.
        "image_dhash": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS c
  FROM documents
),
g AS (
  SELECT m.media_id, dy.y AS y, dx.x AS x,
    ( (7*(((LEAST((dy.y*m.h)//8, m.h-1))*m.w + LEAST((dx.x*m.w)//8, m.w-1))*m.c + 0) + m.i) % 256
    + (7*(((LEAST((dy.y*m.h)//8, m.h-1))*m.w + LEAST((dx.x*m.w)//8, m.w-1))*m.c + 1) + m.i) % 256
    + (7*(((LEAST((dy.y*m.h)//8, m.h-1))*m.w + LEAST((dx.x*m.w)//8, m.w-1))*m.c + 2) + m.i) % 256
    ) // 3 AS gray
  FROM m, generate_series(0, 7) AS dy(y), generate_series(0, 7) AS dx(x)
)
SELECT a.media_id, 'image' AS kind, true AS decoded,
  CAST(SUM(CASE WHEN a.gray > b.gray
       THEN CAST(1 AS BIGINT) << (a.y*7 + a.x)
       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dhash
FROM g a JOIN g b ON b.media_id = a.media_id AND b.y = a.y AND b.x = a.x + 1
GROUP BY a.media_id
""",
        "image_near_dup": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS c
  FROM documents WHERE doc_id < 1500
),
g AS (
  SELECT m.media_id, dy.y AS y, dx.x AS x,
    ( (7*(((LEAST((dy.y*m.h)//8, m.h-1))*m.w + LEAST((dx.x*m.w)//8, m.w-1))*m.c + 0) + m.i) % 256
    + (7*(((LEAST((dy.y*m.h)//8, m.h-1))*m.w + LEAST((dx.x*m.w)//8, m.w-1))*m.c + 1) + m.i) % 256
    + (7*(((LEAST((dy.y*m.h)//8, m.h-1))*m.w + LEAST((dx.x*m.w)//8, m.w-1))*m.c + 2) + m.i) % 256
    ) // 3 AS gray
  FROM m, generate_series(0, 7) AS dy(y), generate_series(0, 7) AS dx(x)
),
dh AS (
  SELECT a.media_id,
    CAST(SUM(CASE WHEN a.gray > b.gray
         THEN CAST(1 AS BIGINT) << (a.y*7 + a.x)
         ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dhash
  FROM g a JOIN g b ON b.media_id = a.media_id AND b.y = a.y AND b.x = a.x + 1
  GROUP BY a.media_id
)
SELECT x.media_id AS a, y.media_id AS b,
       CAST(bit_count(xor(x.dhash, y.dhash)) AS INTEGER) AS hamming
FROM dh x JOIN dh y ON x.media_id < y.media_id
WHERE bit_count(xor(x.dhash, y.dhash)) <= 2
""",
        "video_frame_dhash": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         1 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb,
         2 + doc_id % 3 AS nf
  FROM documents
),
g AS (
  SELECT m.media_id, f.j AS frame_idx, dy.y AS y, dx.x AS x,
         (37*(((dy.y*m.hb)//8)*m.wb + (dx.x*m.wb)//8) + m.i + 19*f.j) % 256
           AS gray
  FROM m, generate_series(0, 3) AS f(j),
       generate_series(0, 7) AS dy(y), generate_series(0, 7) AS dx(x)
  WHERE f.j < m.nf
)
SELECT a.media_id, CAST(a.frame_idx AS INTEGER) AS frame_idx,
  CAST(SUM(CASE WHEN a.gray > b.gray
       THEN CAST(1 AS BIGINT) << (a.y*7 + a.x)
       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS dhash
FROM g a JOIN g b ON b.media_id = a.media_id AND b.frame_idx = a.frame_idx
  AND b.y = a.y AND b.x = a.x + 1
GROUP BY a.media_id, a.frame_idx
""",
        "audio_fingerprint": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         64 + doc_id % 64 AS n
  FROM documents
),
s AS (
  SELECT m.media_id, m.n, (t.k * 56) // m.n AS blk,
         abs(((t.k*13 + m.i) * 97) % 4097 - 2048) AS a
  FROM m, generate_series(0, 127) AS t(k) WHERE t.k < m.n
),
tot AS (SELECT media_id, SUM(a) AS total FROM s GROUP BY media_id),
blocks AS (SELECT media_id, n, blk, SUM(a) AS bsum, COUNT(*) AS blen
           FROM s GROUP BY media_id, n, blk)
SELECT b.media_id, 'audio' AS kind, true AS decoded,
  CAST(SUM(CASE WHEN b.bsum * b.n > t.total * b.blen
       THEN CAST(1 AS BIGINT) << b.blk ELSE CAST(0 AS BIGINT) END) AS BIGINT)
    AS fingerprint
FROM blocks b JOIN tot t USING (media_id)
GROUP BY b.media_id
""",
        "audio_near_dup": """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS i,
         64 + (CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END)
             % 64 AS n
  FROM documents
),
s AS (
  SELECT m.media_id, m.n, (t.k * 56) // m.n AS blk,
         abs(((t.k*13 + m.i) * 97) % 4097 - 2048) AS a
  FROM m, generate_series(0, 127) AS t(k) WHERE t.k < m.n
),
tot AS (SELECT media_id, SUM(a) AS total FROM s GROUP BY media_id),
blocks AS (SELECT media_id, n, blk, SUM(a) AS bsum, COUNT(*) AS blen
           FROM s GROUP BY media_id, n, blk),
fp AS (
  SELECT b.media_id,
    CAST(SUM(CASE WHEN b.bsum * b.n > t.total * b.blen
         THEN CAST(1 AS BIGINT) << b.blk ELSE CAST(0 AS BIGINT) END)
      AS BIGINT) AS fp
  FROM blocks b JOIN tot t USING (media_id)
  GROUP BY b.media_id
)
SELECT x.media_id AS a, y.media_id AS b,
       CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
FROM fp x JOIN fp y ON x.media_id < y.media_id
WHERE bit_count(xor(x.fp, y.fp)) <= 2
""",
        "video_near_dup": """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 10 = 9 THEN doc_id - 1 ELSE doc_id END AS i
  FROM documents
),
mm AS (
  SELECT media_id, i, 1 + i % 3 AS wb, 1 + i % 2 AS hb, 2 + i % 3 AS nf
  FROM m
),
fd AS (
  SELECT mm.media_id, f.j AS frame_idx,
         CAST(64 * SUM((37*b.k + mm.i + 19*f.j) % 256) AS BIGINT) * 16384
           + (mm.wb * 8) * 64 + (mm.hb * 8) AS dhash
  FROM mm, generate_series(0, 3) AS f(j), generate_series(0, 5) AS b(k)
  WHERE f.j < mm.nf AND b.k < mm.wb * mm.hb
  GROUP BY mm.media_id, f.j, mm.wb, mm.hb
),
fh AS (SELECT DISTINCT media_id, dhash FROM fd),
sizes AS (SELECT media_id, COUNT(*) AS n FROM fh GROUP BY media_id),
shared AS (
  SELECT x.media_id AS a, y.media_id AS b, COUNT(*) AS shared
  FROM fh x JOIN fh y ON x.dhash = y.dhash AND x.media_id < y.media_id
  GROUP BY x.media_id, y.media_id
)
SELECT s.a, s.b, CAST(s.shared AS BIGINT) AS shared,
       round(CAST(s.shared AS DOUBLE)
             / (na.n + nb.n - s.shared), 6) AS jaccard
FROM shared s
JOIN sizes na ON na.media_id = s.a
JOIN sizes nb ON nb.media_id = s.b
WHERE CAST(s.shared AS DOUBLE) / (na.n + nb.n - s.shared) >= 0.5
""",
        "nb_classifier": r"""
WITH docs AS (
  SELECT doc_id, COALESCE(lang = 'en', false) AS y,
         string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
tok AS (
  SELECT doc_id, y, i AS pos, w[i + 1] AS token
  FROM docs, UNNEST(generate_series(0, len(w) - 1)) AS u(i)
  WHERE w[i + 1] <> ''
),
stats AS (
  SELECT token,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
         SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS c_neg
  FROM tok GROUP BY token
),
scal AS (
  SELECT SUM(c_pos) + COUNT(*) AS dp, SUM(c_neg) + COUNT(*) AS dn
  FROM stats
),
pri AS (
  SELECT ln(SUM(CASE WHEN y THEN 1 ELSE 0 END) + 1.0)
       - ln(SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) + 1.0) AS p0
  FROM docs
),
contrib AS (
  SELECT t.doc_id, t.pos,
         ln((COALESCE(s.c_pos, 0) + 1.0) / (SELECT dp FROM scal))
       - ln((COALESCE(s.c_neg, 0) + 1.0) / (SELECT dn FROM scal)) AS lo
  FROM tok t LEFT JOIN stats s USING (token)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(list_aggregate(list(lo ORDER BY pos), 'sum')
             + (SELECT p0 FROM pri), 6) AS log_odds,
       round(list_aggregate(list(lo ORDER BY pos), 'sum')
             + (SELECT p0 FROM pri), 6) > 0 AS predicted
FROM contrib GROUP BY doc_id
""",
        "adpcm_decode_stats": """
SELECT CAST(doc_id AS VARCHAR) AS media_id, 'audio' AS kind,
       true AS decoded,
       CAST(64 + doc_id % 64 AS INTEGER) AS n_samples,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST((64 + doc_id % 64) * ((doc_id * 97) % 4096 - 2048) AS BIGINT)
         AS sample_sum
FROM documents
""",
        "sparse_cosine": """
WITH toks0 AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
),
tri AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
                                       i -> t[i] || '_' || t[i+1] || '_' || t[i+2])) AS term
  FROM toks0 WHERE len(t) >= 3
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tri GROUP BY 1, 2),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
dict AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
  HAVING count(*) >= 2 AND count(*) <= 1000 AND count(*) < (SELECT n FROM n_docs)
),
w AS (
  SELECT t.doc_id, t.term,
         round(CAST(t.tf AS DOUBLE)
               * ln(CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE)), 9) AS w
  FROM tf t JOIN dict d USING (term), n_docs n
),
nrm AS (
  SELECT doc_id,
         round(sqrt(sum(CAST(floor(w * w * 1e12 + 0.5) AS BIGINT)) / 1e12), 9)
           AS norm
  FROM w GROUP BY doc_id
),
p AS (
  SELECT w.doc_id, w.term, round(w.w / nrm.norm, 9) AS wn
  FROM w JOIN nrm USING (doc_id) WHERE nrm.norm > 0
),
prods AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         CAST(floor(x.wn * y.wn * 1e12 + 0.5) AS BIGINT) AS g
  FROM p x JOIN p y ON x.term = y.term AND x.doc_id < y.doc_id
)
SELECT a, b, round(sum(g) / 1e12, 6) AS cosine,
       CAST(count(*) AS BIGINT) AS n_terms
FROM prods GROUP BY a, b
HAVING round(sum(g) / 1e12, 6) >= 0.3
""",
        "hybrid_search": f"""
WITH bm AS ({_bm25_sql(["spark", "merge", "window"], top_n=20)}),
dn AS ({_COSINE_TOPK_SQL}),
r1 AS (SELECT doc_id AS id,
              row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bm),
r2 AS (SELECT vec_id AS id,
              row_number() OVER (ORDER BY cosine DESC, vec_id) AS rnk FROM dn),
u AS (
  SELECT id, CAST(1.0 AS DOUBLE) / (60 + rnk) AS c FROM r1
  UNION ALL
  SELECT id, CAST(1.0 AS DOUBLE) / (60 + rnk) AS c FROM r2
)
SELECT id, round(sum(c), 9) AS rrf_score, CAST(count(*) AS BIGINT) AS n_lists
FROM u GROUP BY id
ORDER BY rrf_score DESC, id LIMIT 20
""",
        "label_propagation": _lpa_sql(3),
        "containment": f"""
WITH {_SHINGLES_CTE},
dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
rare AS (SELECT s FROM dfreq WHERE df BETWEEN 2 AND 50),
blocked AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM blocked x JOIN blocked y ON x.s = y.s AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
res AS (
  SELECT c.a, c.b,
         round(CAST(i.n_inter AS DOUBLE) / sa.n, 6) AS c_ab,
         round(CAST(i.n_inter AS DOUBLE) / sb.n, 6) AS c_ba,
         CAST(i.n_inter AS BIGINT) AS n_inter
  FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
  JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
)
SELECT a, b, c_ab, c_ba, n_inter FROM res
WHERE c_ab >= 0.5 OR c_ba >= 0.5
""",
        "jl_projection": _jl_sql(),
        "clustering_coeff": """
WITH dir AS (
  SELECT doc_id AS a, doc_id + 1 AS b FROM documents
  UNION ALL SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT doc_id, doc_id + 3 FROM documents WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT least(a, b) AS lo, greatest(a, b) AS hi
      FROM dir WHERE a <> b),
wedge AS (
  SELECT x.lo AS a, x.hi AS b, y.hi AS c
  FROM e x JOIN e y ON x.lo = y.lo AND x.hi < y.hi
),
tri AS (SELECT w.a, w.b, w.c FROM wedge w
        JOIN e z ON z.lo = w.b AND z.hi = w.c),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       FROM corners GROUP BY node),
sym AS (SELECT DISTINCT node, nbr FROM (
          SELECT a AS node, b AS nbr FROM dir
          UNION ALL SELECT b, a FROM dir) WHERE node <> nbr),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM sym GROUP BY node)
SELECT d.node, d.degree,
       coalesce(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round(CAST(2 * coalesce(t.n_triangles, 0) AS DOUBLE)
                       / (d.degree * (d.degree - 1)), 6)
            ELSE 0.0 END AS coeff
FROM deg d LEFT JOIN tc t USING (node)
""",
        "fuzzy_contamination": f"""
WITH {_banded_over_sql(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0)", "tr")},
{_banded_over_sql(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)", "be")},
cand AS (
  SELECT DISTINCT t.doc_id AS train_id, b.doc_id AS bench_id
  FROM tr_band t JOIN be_band b USING (band, band_key)
),
nt AS (SELECT doc_id, count(*) AS n FROM tr_sh GROUP BY doc_id),
nb AS (SELECT doc_id, count(*) AS n FROM be_sh GROUP BY doc_id),
inter AS (
  SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS n_inter
  FROM tr_sh t JOIN be_sh b ON t.s = b.s
  GROUP BY 1, 2
)
SELECT c.train_id, c.bench_id,
       round(CAST(i.n_inter AS DOUBLE) / (nt.n + nb.n - i.n_inter), 6)
         AS jaccard
FROM cand c
JOIN inter i ON i.train_id = c.train_id AND i.bench_id = c.bench_id
JOIN nt ON nt.doc_id = c.train_id
JOIN nb ON nb.doc_id = c.bench_id
WHERE CAST(i.n_inter AS DOUBLE) / (nt.n + nb.n - i.n_inter) >= 0.2
""",
        "corpus_overlap": """
WITH a AS (
  SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
  ORDER BY h LIMIT 256
),
b AS (
  SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
  ORDER BY h LIMIT 256
),
s AS (
  SELECT DISTINCT h FROM (SELECT h FROM a UNION ALL SELECT h FROM b)
  ORDER BY h LIMIT 256
),
hits AS (SELECT s.h FROM s JOIN a USING (h) JOIN b USING (h))
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS k_used,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_both,
       CASE WHEN (SELECT count(*) FROM s) > 0
            THEN round(CAST((SELECT count(*) FROM hits) AS DOUBLE)
                       / (SELECT count(*) FROM s), 6)
            ELSE 0.0 END AS est_jaccard
""",
        "group_split": """
SELECT source,
       CASE WHEN d < 429496729 THEN 'test'
            WHEN d < 858993458 THEN 'val'
            ELSE 'train' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (SELECT source, n_chars,
             CAST('0x' || substr(md5('gsplit-v1:' || source), 1, 8) AS BIGINT)
               AS d
      FROM documents)
GROUP BY 1, 2
""",
        "edit_distance_near_dup": f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDED_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT c.a, c.b, CAST(levenshtein(ta.text, tb.text) AS INT) AS dist
FROM cand c
JOIN documents ta ON ta.doc_id = c.a
JOIN documents tb ON tb.doc_id = c.b
WHERE levenshtein(ta.text, tb.text) <= 20
""",
        "interleaved_pack": r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents WHERE text IS NOT NULL
), d AS (
  SELECT doc_id, w, CAST(ceil(len(w) / 7.0) AS BIGINT) AS nt
  FROM base WHERE len(w) > 0
), spans AS (
  SELECT doc_id, j + j // 3 AS span_idx, 'text' AS kind,
         CAST(NULL AS VARCHAR) AS media_ref,
         len(list_slice(w, j * 7 + 1, j * 7 + 7)) AS tok_cost
  FROM d, generate_series(0, 9999) AS t(j) WHERE j < nt
  UNION ALL
  SELECT doc_id, k * 4 - 1, 'image',
         'img:' || doc_id || ':' || (k - 1), 16
  FROM d, generate_series(1, 9999) AS t(k) WHERE k <= nt // 3
  UNION ALL
  SELECT doc_id, nt + nt // 3, 'video', 'vid:' || doc_id, 32
  FROM d WHERE doc_id % 4 = 0
), pref AS (
  SELECT *, COALESCE(SUM(tok_cost) OVER (
      ORDER BY doc_id, span_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM spans
)
SELECT doc_id, CAST(span_idx AS INTEGER) AS span_idx, kind, media_ref,
       CAST(tok_cost AS BIGINT) AS tok_cost,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(start_tok // 128 AS BIGINT) AS seq_id,
       CAST(start_tok % 128 AS BIGINT) AS seq_pos
FROM pref
""",
        "interleaved_seq_stats": r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents WHERE text IS NOT NULL
), d AS (
  SELECT doc_id, w, CAST(ceil(len(w) / 7.0) AS BIGINT) AS nt
  FROM base WHERE len(w) > 0
), spans AS (
  SELECT doc_id, j + j // 3 AS span_idx, 'text' AS kind,
         len(list_slice(w, j * 7 + 1, j * 7 + 7)) AS tok_cost
  FROM d, generate_series(0, 9999) AS t(j) WHERE j < nt
  UNION ALL
  SELECT doc_id, k * 4 - 1, 'image', 16
  FROM d, generate_series(1, 9999) AS t(k) WHERE k <= nt // 3
  UNION ALL
  SELECT doc_id, nt + nt // 3, 'video', 32
  FROM d WHERE doc_id % 4 = 0
), pref AS (
  SELECT *, COALESCE(SUM(tok_cost) OVER (
      ORDER BY doc_id, span_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM spans
)
SELECT CAST(start_tok // 128 AS BIGINT) AS seq_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_images,
       CAST(SUM(CASE WHEN kind = 'video' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_videos,
       CAST(SUM(CASE WHEN kind = 'text' THEN tok_cost ELSE 0 END)
            AS BIGINT) AS text_tokens,
       CAST(SUM(CASE WHEN kind <> 'text' THEN tok_cost ELSE 0 END)
            AS BIGINT) AS media_tokens,
       COUNT(DISTINCT doc_id) AS n_docs
FROM pref
GROUP BY 1
""",
        "interleaved_assembly": r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents WHERE text IS NOT NULL
), d AS (
  SELECT doc_id, w, CAST(ceil(len(w) / 7.0) AS BIGINT) AS nt
  FROM base WHERE len(w) > 0
), spans AS (
  SELECT doc_id, j + j // 3 AS span_idx,
         len(list_slice(w, j * 7 + 1, j * 7 + 7)) AS tok_cost,
         array_to_string(list_slice(w, j * 7 + 1, j * 7 + 7), ' ')
           AS piece
  FROM d, generate_series(0, 9999) AS t(j) WHERE j < nt
  UNION ALL
  SELECT doc_id, k * 4 - 1, 16,
         '<image:img:' || doc_id || ':' || (k - 1) || '>'
  FROM d, generate_series(1, 9999) AS t(k) WHERE k <= nt // 3
  UNION ALL
  SELECT doc_id, nt + nt // 3, 32, '<video:vid:' || doc_id || '>'
  FROM d WHERE doc_id % 4 = 0
), pref AS (
  SELECT *, COALESCE(SUM(tok_cost) OVER (
      ORDER BY doc_id, span_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM spans
)
SELECT CAST(start_tok // 128 AS BIGINT) AS seq_id,
       COUNT(*) AS n_spans,
       string_agg(piece, ' ' ORDER BY start_tok % 128) AS body
FROM pref
GROUP BY 1
""",
        "mjpeg_decode_stats": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h,
         (1 + doc_id % 3) * (1 + doc_id % 2) AS nb,
         2 + doc_id % 3 AS nf
  FROM documents
)
SELECT m.media_id, 'video' AS kind, true AS decoded,
       CAST(m.w AS INTEGER) AS width, CAST(m.h AS INTEGER) AS height,
       CAST(64 * SUM((t.k * 37 + m.i + 19 * f.j) % 256) AS BIGINT) AS px_sum,
       CAST(m.nf AS INTEGER) AS n_frames
FROM m, generate_series(0, 5) AS t(k), generate_series(0, 3) AS f(j)
WHERE t.k < m.nb AND f.j < m.nf
GROUP BY m.media_id, m.w, m.h, m.nf
""",
        "mjpeg_frame_sample": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h,
         (1 + doc_id % 3) * (1 + doc_id % 2) AS nb,
         2 + doc_id % 3 AS nf
  FROM documents
)
SELECT m.media_id, CAST(f.j AS INTEGER) AS frame_idx,
       CAST(m.w AS INTEGER) AS width, CAST(m.h AS INTEGER) AS height,
       CAST(64 * SUM((t.k * 37 + m.i + 19 * f.j) % 256) AS BIGINT) AS px_sum
FROM m, generate_series(0, 5) AS t(k), generate_series(0, 3) AS f(j)
WHERE t.k < m.nb AND f.j < m.nf AND f.j % 2 = 0
GROUP BY m.media_id, f.j, m.w, m.h
""",
        "jpeg_decode_stats": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         8 * (1 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h,
         (1 + doc_id % 3) * (1 + doc_id % 2) AS nb
  FROM documents
)
SELECT m.media_id, 'image' AS kind, true AS decoded,
       CAST(m.w AS INTEGER) AS width, CAST(m.h AS INTEGER) AS height,
       CAST(64 * SUM(CASE WHEN m.i % 2 = 0 THEN (t.k * 37 + m.i) % 256
            ELSE (t.k * 37 + m.i) % 256 + (t.k * 53 + m.i) % 256
                 + (t.k * 89 + m.i) % 256 END) AS BIGINT) AS px_sum
FROM m, generate_series(0, 5) AS t(k)
WHERE t.k < m.nb
GROUP BY m.media_id, m.w, m.h
""",
        "gif_decode_stats": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents
)
SELECT m.media_id, 'image' AS kind, true AS decoded,
       CAST(m.w AS INTEGER) AS width, CAST(m.h AS INTEGER) AS height,
       CAST(SUM((t.k * 11 + m.i) % 256
                + ((t.k * 11 + m.i) % 256 * 3) % 256
                + ((t.k * 11 + m.i) % 256 * 7) % 256) AS BIGINT) AS px_sum
FROM m, generate_series(0, 47) AS t(k)
WHERE t.k < m.w * m.h
GROUP BY m.media_id, m.w, m.h
""",
        "adamic_adar": """
WITH raw AS (
  SELECT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
  UNION ALL
  SELECT doc_id AS src, (doc_id + m) % 20 AS dst
  FROM documents, UNNEST(generate_series(1, 4)) AS g(m)
  WHERE doc_id < 20
),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
inc AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b AS z, a AS n
        FROM e),
deg AS (SELECT z, count(*) AS deg FROM inc GROUP BY z),
kept AS (
  SELECT inc.z, inc.n, CAST(round(1000000000.0 / ln(deg.deg), 0)
                            AS BIGINT) AS t
  FROM inc JOIN deg ON inc.z = deg.z
  WHERE deg.deg BETWEEN 2 AND 32
),
pairs AS (
  SELECT x.n AS a, y.n AS b, count(*) AS common_neighbors,
         sum(x.t) AS aa
  FROM kept x JOIN kept y ON x.z = y.z AND x.n < y.n
  GROUP BY x.n, y.n
)
SELECT p.a, p.b, CAST(common_neighbors AS BIGINT) AS common_neighbors,
       round(aa / 1000000000.0, 6) AS aa_score
FROM pairs p LEFT JOIN e ON e.a = p.a AND e.b = p.b
WHERE e.a IS NULL
""",
        "incremental_components": f"""
WITH RECURSIVE sim AS ({_simhash_sql(60)}),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sim x JOIN sim y ON x.doc_id < y.doc_id
  WHERE bit_count(xor(x.simhash, y.simhash)) <= 4
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION SELECT b, a FROM pairs
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM sim
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON e.dst = w.node
)
SELECT node AS doc_id, min(comp) AS component
FROM walk GROUP BY node
""",
        "fim_splits": r"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
  FROM documents WHERE length(trim(text)) > 0
), d AS (
  SELECT doc_id, n,
         CAST('0x' || substr(md5('fim-v1:c1:' ||
              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % (n + 1)
           AS d1,
         CAST('0x' || substr(md5('fim-v1:c2:' ||
              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % (n + 1)
           AS d2,
         CAST('0x' || substr(md5('fim-v1:m:' ||
              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS dm
  FROM base
)
SELECT doc_id, n AS n_tokens,
       CAST(least(d1, d2) AS INT) AS cut1,
       CAST(greatest(d1, d2) AS INT) AS cut2,
       CASE WHEN dm = 0 THEN 'psm' ELSE 'spm' END AS mode,
       CAST(least(d1, d2) AS INT) AS len_prefix,
       CAST(greatest(d1, d2) - least(d1, d2) AS INT) AS len_middle,
       CAST(n - greatest(d1, d2) AS INT) AS len_suffix
FROM d
""",
        "url_trap_patterns": """
WITH u AS (
  SELECT doc_id, lower(trim(CASE
    WHEN doc_id % 4 = 0 THEN 'https://' || source ||
      '.example.org/cal/' || CAST(2020 + doc_id % 5 AS VARCHAR) ||
      '/' || CAST(1 + doc_id % 12 AS VARCHAR) ||
      '/event' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 4 = 1 THEN 'https://' || source ||
      '.example.org/news/story-' || CAST(doc_id % 7 AS VARCHAR)
    ELSE 'https://' || source || '.example.org/about' END)) AS url
  FROM documents
),
parts AS (
  SELECT url,
         regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1)
           AS host,
         regexp_extract(regexp_extract(url,
             '^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)', 1),
             '^([^?]*)', 1) AS path
  FROM u WHERE regexp_matches(url, '^[a-z][a-z0-9+.-]*://')
),
pat AS (
  SELECT host || '/' || array_to_string(list_transform(
           list_filter(string_split(path, '/'), s -> s <> ''),
           s -> CASE WHEN regexp_full_match(s, '[0-9]+') THEN '<d>'
                     WHEN regexp_matches(s, '[0-9]') THEN '<m>'
                     ELSE s END), '/') AS pattern,
         url
  FROM parts
)
SELECT pattern, count(*) AS n_urls,
       count(DISTINCT url) AS n_distinct,
       count(DISTINCT url) >= 10 AS is_trap
FROM pat GROUP BY pattern
""",
        "corruption_spans": r"""
WITH base AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
  FROM documents WHERE length(trim(text)) > 0
),
cand AS (
  SELECT doc_id, t.p AS s, least(t.p + 2, n) AS e
  FROM base, UNNEST(generate_series(1, n)) AS t(p)
  WHERE CAST('0x' || substr(md5('t5-v1:' || CAST(doc_id AS VARCHAR)
             || ':' || CAST(t.p AS VARCHAR)), 1, 15) AS BIGINT)
        % 20 = 0
),
prevd AS (
  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS prev_end
  FROM cand
),
isl AS (
  SELECT *, sum(CASE WHEN prev_end IS NULL OR s > prev_end + 1
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s
                  ROWS UNBOUNDED PRECEDING) AS island
  FROM prevd
)
SELECT doc_id, CAST(island AS INT) AS span_idx,
       CAST(min(s) AS INT) AS span_start,
       CAST(max(e) AS INT) AS span_end,
       CAST(max(e) - min(s) + 1 AS INT) AS n_masked
FROM isl GROUP BY doc_id, island
""",
        "vocab_divergence": r"""
WITH ta AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
), tb AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
), ca AS (SELECT token, count(*) AS na FROM ta WHERE token <> ''
          GROUP BY token),
cb AS (SELECT token, count(*) AS nb FROM tb WHERE token <> ''
       GROUP BY token),
j AS (
  SELECT COALESCE(ca.token, cb.token) AS token,
         COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
  FROM ca FULL OUTER JOIN cb USING (token)
), sc AS (
  SELECT count(*) AS v, sum(na) AS taa, sum(nb) AS tbb FROM j
), terms AS (
  SELECT sc.v, sc.taa, sc.tbb,
         (na + 1) / CAST(taa + v AS DOUBLE) AS p,
         (nb + 1) / CAST(tbb + v AS DOUBLE) AS q
  FROM j, sc
)
SELECT CAST(max(v) AS BIGINT) AS n_vocab,
       CAST(max(taa) AS BIGINT) AS tokens_a,
       CAST(max(tbb) AS BIGINT) AS tokens_b,
       round(sum(CAST(round(p * ln(p / q) * 1000000000, 0) AS BIGINT))
             / 1000000000, 6) AS kl_ab,
       round(sum(CAST(round(q * ln(q / p) * 1000000000, 0) AS BIGINT))
             / 1000000000, 6) AS kl_ba,
       round(sum(CAST(round((p * ln(p / ((p + q) / 2)) / 2
                             + q * ln(q / ((p + q) / 2)) / 2)
                            * 1000000000, 0) AS BIGINT))
             / 1000000000, 6) AS js
FROM terms
""",
        "hard_negatives": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings WHERE vec_id < 1000),
p AS (
  SELECT x.vec_id AS x, y.vec_id AS y,
         CAST(round(list_dot_product(x.v, y.v) /
                    (sqrt(list_dot_product(x.v, x.v)) *
                     sqrt(list_dot_product(y.v, y.v))) * 1000000, 0)
              AS BIGINT) AS rc
  FROM e x JOIN e y
    ON x.vec_id <> y.vec_id AND x.label <> y.label
), r AS (
  SELECT *, row_number() OVER (PARTITION BY x ORDER BY rc DESC, y) AS rk
  FROM p
)
SELECT x, y AS neg_id, rc, CAST(rk AS INT) AS rank
FROM r WHERE rk <= 4
""",
        "negative_samples": f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDED_CTE},
pos AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
),
posu AS (SELECT a, b FROM pos UNION ALL SELECT b, a FROM pos),
nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
draws AS (
  SELECT d.doc_id, t.j,
         CAST('0x' || substr(md5('neg-v1:' || CAST(d.doc_id AS VARCHAR)
              || ':' || CAST(t.j AS VARCHAR)), 1, 15) AS BIGINT)
           % (SELECT n FROM nn) AS neg_id
  FROM documents d, generate_series(0, 3) AS t(j)
)
SELECT dr.doc_id, dr.neg_id, CAST(dr.j AS INT) AS j
FROM draws dr
JOIN documents e ON e.doc_id = dr.neg_id
LEFT JOIN posu p ON p.a = dr.doc_id AND p.b = dr.neg_id
WHERE dr.neg_id <> dr.doc_id AND p.a IS NULL
""",
        "k_core": _kcore_sql(k=3, rounds=6, edges_sql="""
link_edges AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
),
edges AS (
  SELECT src, dst FROM link_edges
  UNION ALL
  SELECT doc_id AS src, (doc_id + m) % 20 AS dst
  FROM documents, UNNEST(generate_series(1, 4)) AS g(m)
  WHERE doc_id < 20
)"""),
        "unimax_select": f"""
WITH RECURSIVE
docs AS (
  SELECT d.doc_id, l.pred_lang AS lang,
         CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
           AS tok
  FROM documents d JOIN ({_lang_id_sql()}) l USING (doc_id)
  WHERE length(trim(d.text)) > 0
),
langs AS (SELECT lang, sum(tok) AS c FROM docs GROUP BY lang),
ordered AS (
  SELECT lang, c, row_number() OVER (ORDER BY c, lang) AS i,
         count(*) OVER () AS k
  FROM langs
),
alloc AS (
  SELECT 0 AS i, CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS c,
         CAST(0 AS BIGINT) AS a, CAST(10000 AS BIGINT) AS brem,
         (SELECT max(k) FROM ordered) AS k
  UNION ALL
  SELECT o.i, o.lang, o.c,
         least(2 * o.c, al.brem // (al.k - al.i)),
         al.brem - least(2 * o.c, al.brem // (al.k - al.i)),
         al.k
  FROM alloc al JOIN ordered o ON o.i = al.i + 1
),
sel AS (
  SELECT d.lang, d.doc_id, d.tok, a.a AS alloc,
         sum(d.tok) OVER (
           PARTITION BY d.lang
           ORDER BY md5('unimax-v1:' || CAST(d.doc_id AS VARCHAR)),
                    d.doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM docs d JOIN alloc a ON a.lang = d.lang
)
SELECT lang, doc_id, tok, alloc FROM sel WHERE cum <= alloc
""",
        "pr_curve": f"""
WITH q AS (SELECT * FROM ({_quality_sql()})),
l AS (SELECT * FROM ({_lang_id_sql()})),
scored AS (
  SELECT q.doc_id, q.quality_score AS score,
         CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END AS label
  FROM q JOIN l USING (doc_id)
), grid AS (
  SELECT round(score, 6) AS threshold, count(*) AS n,
         sum(label) AS p
  FROM scored GROUP BY 1
), cum AS (
  SELECT threshold,
         sum(p) OVER (ORDER BY threshold DESC
                      ROWS UNBOUNDED PRECEDING) AS tp,
         sum(n) OVER (ORDER BY threshold DESC
                      ROWS UNBOUNDED PRECEDING) AS kept,
         sum(p) OVER () AS npos, sum(n) OVER () - sum(p) OVER () AS nneg
  FROM grid
)
SELECT threshold, CAST(tp AS BIGINT) AS tp,
       CAST(kept - tp AS BIGINT) AS fp,
       CAST(npos - tp AS BIGINT) AS fn,
       round(CAST(tp AS DOUBLE) / kept, 6) AS precision,
       round(CAST(tp AS DOUBLE) / npos, 6) AS recall,
       round(2.0 * tp / (2 * tp + (kept - tp) + (npos - tp)), 6) AS f1
FROM cum
""",
        "roc_auc": f"""
WITH q AS (SELECT * FROM ({_quality_sql()})),
l AS (SELECT * FROM ({_lang_id_sql()})),
scored AS (
  SELECT q.doc_id, q.quality_score AS score,
         CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END AS label
  FROM q JOIN l USING (doc_id)
), grid AS (
  SELECT round(score, 6) AS threshold, count(*) AS n,
         sum(label) AS p
  FROM scored GROUP BY 1
), started AS (
  SELECT *, COALESCE(sum(n) OVER (ORDER BY threshold ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS start
  FROM grid
), tot AS (
  SELECT sum(p * (2 * start + n + 1)) AS twice_rank_sum,
         sum(p) AS npos, sum(n) AS total
  FROM started
)
SELECT CAST(npos AS BIGINT) AS npos,
       CAST(total - npos AS BIGINT) AS nneg,
       CASE WHEN npos > 0 AND total - npos > 0 THEN
         round((twice_rank_sum - npos * (npos + 1)) /
               (2.0 * npos * (total - npos)), 6)
       END AS auc
FROM tot
""",
        "bitext_margin": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings WHERE vec_id < 1000),
p AS (
  SELECT x.vec_id AS x, y.vec_id AS y,
         CAST(round(list_dot_product(x.v, y.v) /
                    (sqrt(list_dot_product(x.v, x.v)) *
                     sqrt(list_dot_product(y.v, y.v))) * 1000000, 0)
              AS BIGINT) AS rc
  FROM e x, e y
  WHERE x.label % 2 = 0 AND y.label % 2 = 1
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY x ORDER BY rc DESC, y) AS rx,
         row_number() OVER (PARTITION BY y ORDER BY rc DESC, x) AS ry
  FROM p
), s AS (
  SELECT *,
         sum(CASE WHEN rx <= 4 THEN rc END) OVER (PARTITION BY x) AS sx,
         sum(CASE WHEN ry <= 4 THEN rc END) OVER (PARTITION BY y) AS sy
  FROM r
)
SELECT x, y, round(8.0 * rc / (sx + sy), 6) AS margin
FROM s WHERE rx = 1 AND ry = 1 AND sx + sy > 0
""",
        "snm_near_dup": f"""
WITH base AS (
  SELECT doc_id, text,
         {_snm_numkey_sql(
             "regexp_replace(lower(substring(text, 1, 256)), "
             "'[^a-z0-9]', '', 'g')")} AS nk
  FROM documents WHERE text IS NOT NULL
), ranked AS (
  SELECT doc_id, text,
         row_number() OVER (ORDER BY nk, doc_id) AS rn
  FROM base
)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(levenshtein(x.text, y.text) AS INT) AS dist
FROM ranked x JOIN ranked y
  ON y.rn > x.rn AND y.rn <= x.rn + 8
WHERE abs(length(x.text) - length(y.text)) <= 12
  AND levenshtein(x.text, y.text) <= 12
""",
        "epoch_mix": """
WITH base AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                     WHEN 'src2' THEN 0 WHEN 'src3' THEN 0
                     ELSE 1 END AS flr,
         CASE source WHEN 'src0' THEN 2147483648
                     WHEN 'src1' THEN 2147483648
                     WHEN 'src2' THEN 1288490188
                     WHEN 'src3' THEN 0
                     ELSE 0 END AS thr
  FROM documents WHERE doc_id IS NOT NULL
),
c AS (
  SELECT doc_id, source,
         flr + CASE WHEN CAST('0x' || substr(md5('mix-v1:frac:' ||
                     CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) < thr
               THEN 1 ELSE 0 END AS copies
  FROM base
),
e AS (
  SELECT doc_id, source,
         CAST(unnest(generate_series(0, copies - 1)) AS INTEGER) AS copy
  FROM c
  WHERE copies > 0
),
h AS (
  SELECT doc_id, source, copy,
         CAST('0x' || substr(md5('mix-v1:' || CAST(copy AS VARCHAR) || ':' ||
                     CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM e
)
SELECT doc_id, source, copy,
       CAST(h % 16 AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 16
                               ORDER BY h, doc_id, copy) - 1
            AS BIGINT) AS pos
FROM h
""",
        "corpus_shuffle": """
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('shuffle-v1:' || CAST(doc_id AS VARCHAR)),
                             1, 15) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, CAST(h % 16 AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) - 1
            AS BIGINT) AS pos
FROM h
""",
        "g711_decode_stats": r"""
WITH p AS (
  SELECT doc_id,
         48 + doc_id % 48 AS n,
         doc_id % 8 AS e,
         (7 * doc_id) % 16 AS m,
         CASE WHEN doc_id % 5 = 0 THEN -1 ELSE 1 END AS sg
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS media_id, 'audio' AS kind,
       true AS decoded,
       CAST(n AS INTEGER) AS n_samples,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(n * sg * (CASE
         WHEN doc_id % 2 = 0 THEN ((8 * m + 132) << e) - 132
         WHEN e = 0 THEN 16 * m + 8
         ELSE (16 * m + 264) << (e - 1)
       END) AS BIGINT) AS sample_sum
FROM p
""",
        "boilerplate_filter": r"""
WITH base AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND len(string_split_regex(trim(text), '\s+')) > 0
),
pb AS (
  SELECT doc_id, source,
         list_transform(generate_series(0, (len(w) - 1) // 5),
           i -> array_to_string(list_slice(w, i * 5 + 1, i * 5 + 5), ' ')) AS body
  FROM base
),
pl AS (
  SELECT doc_id, source,
         list_concat(
           list_concat(
             CASE WHEN doc_id % 3 = 0
               THEN ['follow us on social media for breaking news and updates']
               ELSE [] END,
             body),
           CASE WHEN doc_id % 7 = 0
             THEN ['read more at ' || lower(source)] ELSE [] END) AS s
  FROM pb
),
occ AS (
  SELECT doc_id, source, i AS pos, s[i + 1] AS sent,
         CAST('0x' || substr(md5(lower(trim(s[i + 1]))), 1, 15) AS BIGINT)
           AS sent_h
  FROM pl, UNNEST(generate_series(0, len(s) - 1)) AS u(i)
),
hot AS (
  SELECT source, sent_h FROM occ
  GROUP BY source, sent_h HAVING count(DISTINCT doc_id) > 2
),
kept AS (
  SELECT occ.doc_id, occ.pos, occ.sent
  FROM occ ANTI JOIN hot
    ON occ.source = hot.source AND occ.sent_h = hot.sent_h
)
SELECT doc_id,
       CAST(length(string_agg(sent, ' ' ORDER BY pos)) AS BIGINT)
         AS clean_len,
       md5(string_agg(sent, ' ' ORDER BY pos)) AS clean_md5,
       CAST(count(*) AS BIGINT) AS n_kept
FROM kept GROUP BY doc_id
""",
        "paragraph_dedup": r"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND len(string_split_regex(trim(text), '\s+')) > 0
),
pb AS (
  SELECT doc_id,
         list_transform(generate_series(0, (len(w) - 1) // 5),
           i -> array_to_string(list_slice(w, i * 5 + 1, i * 5 + 5), ' ')) AS body
  FROM base
),
pl AS (
  SELECT doc_id,
         list_concat(
           list_concat(body,
             CASE WHEN doc_id % 5 = 0
               THEN ['follow us on social media for breaking news and updates']
               ELSE [] END),
           CASE WHEN doc_id % 11 = 0 THEN [body[1]] ELSE [] END) AS p
  FROM pb
),
occ AS (
  SELECT doc_id, i AS pos, p[i + 1] AS para,
         CAST('0x' || substr(md5(p[i + 1]), 1, 15) AS BIGINT) AS para_h
  FROM pl, UNNEST(generate_series(0, len(p) - 1)) AS u(i)
),
firsts AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY para_h ORDER BY doc_id, pos) AS rn
    FROM occ) WHERE rn = 1
)
SELECT occ.doc_id,
       CAST(length(string_agg(para, chr(10) ORDER BY pos)) AS BIGINT)
         AS clean_len,
       md5(string_agg(para, chr(10) ORDER BY pos)) AS clean_md5
FROM occ SEMI JOIN firsts
  ON occ.doc_id = firsts.doc_id AND occ.pos = firsts.pos
GROUP BY occ.doc_id
""",
        "dedup_keep_best": f"""
WITH RECURSIVE sim AS ({_simhash_sql(60)}),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sim x JOIN sim y ON x.doc_id < y.doc_id
  WHERE bit_count(xor(x.simhash, y.simhash)) <= 4
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION SELECT b, a FROM pairs
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM sim
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON e.dst = w.node
),
comp AS (SELECT node AS doc_id, min(comp) AS component FROM walk GROUP BY node),
ranked AS (
  SELECT c.doc_id, c.component,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY length(d.text) DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT doc_id, component, (rn = 1) AS is_keeper FROM ranked
""",
        "semdedup": _semdedup_sql(),
        "dsir_select": _DSIR_SQL,
        "bpe_pair_counts": _BPE_PAIRS_SQL,
        "simhash128_near_dup": _simhash_bands_sql(),
        "simhash_band_census": _simhash_band_census_sql(),
        "pq_topk": _pq_oracle_sql(),
        "c4_line_filter": r"""
WITH lined AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split_regex(trim(text), '\s+'), 1, 6), ' ')
         || '.' || chr(10) || 'too short.' || chr(10)
         || array_to_string(list_slice(string_split_regex(trim(text), '\s+'), 7, 14), ' ')
         || chr(10)
         || CASE WHEN doc_id % 17 = 0 THEN 'lorem ipsum makes this doc toxic.'
                 ELSE 'a quoted "line" ends well?' END
         || CASE WHEN doc_id % 23 = 0 THEN ' {js}' ELSE '' END AS text
  FROM documents WHERE text IS NOT NULL
),
f AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
                     ln -> len(string_split_regex(trim(ln), '\s+')) >= 5
                           AND regexp_matches(ln, '[.!?"]\s*$')) AS kept,
         (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) AS bad
  FROM lined
)
SELECT doc_id,
       CAST(len(lines) AS INTEGER) AS n_lines,
       CAST(CASE WHEN bad THEN 0 ELSE len(kept) END AS INTEGER) AS n_kept,
       CASE WHEN bad THEN NULL
            ELSE array_to_string(kept, chr(10)) END AS clean_text
FROM f
WHERE (CASE WHEN bad THEN 0 ELSE len(kept) END) > 0
""",
        "cms_token_counts": """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS v
  FROM documents WHERE length(trim(text)) > 0
),
depths AS (SELECT * FROM (VALUES (0), (1), (2), (3)) d(depth)),
rows AS (
  SELECT depth,
         CAST('0x' || substr(md5('cms-' || CAST(depth AS VARCHAR) || ':' || v),
                             1, 8) AS BIGINT) % 256 AS pos
  FROM toks CROSS JOIN depths
),
counters AS (SELECT depth, pos, count(*) AS cnt FROM rows GROUP BY depth, pos),
cand AS (SELECT DISTINCT v FROM toks),
probe AS (
  SELECT c.v, d.depth,
         CAST('0x' || substr(md5('cms-' || CAST(d.depth AS VARCHAR) || ':' || c.v),
                             1, 8) AS BIGINT) % 256 AS pos
  FROM cand c CROSS JOIN depths d
),
est AS (
  SELECT p.v AS value, min(coalesce(ct.cnt, 0)) AS est
  FROM probe p LEFT JOIN counters ct ON ct.depth = p.depth AND ct.pos = p.pos
  GROUP BY p.v
)
SELECT value, CAST(est AS BIGINT) AS est FROM est WHERE est >= 50
""",
        # max-merged per-batch HLL registers == whole-corpus registers
        # (max is associative), so the streaming estimate replays as the
        # batch sketch with the same group column
        "streaming_hll_estimate": _hll_sql(p=8, group="lang"),
        # summed per-batch CMS counters == whole-corpus counters (sum is
        # associative), so the streaming estimate replays as the batch
        # sketch probed at the pinned candidates
        "streaming_cms_estimate": """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS v
  FROM documents WHERE length(trim(text)) > 0
),
depths AS (SELECT * FROM (VALUES (0), (1), (2), (3)) d(depth)),
rows AS (
  SELECT depth,
         CAST('0x' || substr(md5('cms-' || CAST(depth AS VARCHAR) || ':' || v),
                             1, 8) AS BIGINT) % 256 AS pos
  FROM toks CROSS JOIN depths
),
counters AS (SELECT depth, pos, count(*) AS cnt FROM rows GROUP BY depth, pos),
cand(v) AS (VALUES ('join'), ('hash'), ('row'), ('scan'), ('zz-absent')),
probe AS (
  SELECT c.v, d.depth,
         CAST('0x' || substr(md5('cms-' || CAST(d.depth AS VARCHAR) || ':' || c.v),
                             1, 8) AS BIGINT) % 256 AS pos
  FROM cand c CROSS JOIN depths d
)
SELECT p.v AS value, CAST(min(coalesce(ct.cnt, 0)) AS BIGINT) AS est
FROM probe p LEFT JOIN counters ct ON ct.depth = p.depth AND ct.pos = p.pos
GROUP BY p.v
""",
        "dedup_clusters_star": """
WITH RECURSIVE p AS (
  SELECT doc_id AS a, doc_id - (doc_id % 7) AS b
  FROM documents WHERE doc_id % 7 > 0
  UNION ALL
  SELECT doc_id, doc_id - 50
  FROM documents WHERE doc_id % 50 = 0 AND doc_id >= 50
),
edges AS (
  SELECT a AS src, b AS dst FROM p
  UNION SELECT b, a FROM p
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON e.dst = w.node
)
SELECT node AS doc_id, min(comp) AS component,
       (node = min(comp)) AS is_keeper
FROM walk GROUP BY node
""",
        "pii_redact_extended": r"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@mail.example.org'
         || CASE WHEN doc_id % 2 = 0
                 THEN ' pay DE' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                      || '5001051754073249'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' via fe80:0:0:0:0:2' || CAST(doc_id % 10 AS VARCHAR)
                      || ':fe21:67cf from 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR)
                      || '.7 tel +1 555-01'
                      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                      || '-2345'
                 ELSE '' END AS text
  FROM documents WHERE text IS NOT NULL
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_email,
         regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
           AS t
  FROM salted
),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t,
              '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b')) AS BIGINT) AS n_iban,
         regexp_replace(t, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b',
                        '<IBAN>', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_iban,
         CAST(len(regexp_extract_all(t,
              '\b(?:[0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f]{1,4}\b')) AS BIGINT)
           AS n_ipv6,
         regexp_replace(t, '\b(?:[0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f]{1,4}\b',
                        '<IPV6>', 'g') AS t
  FROM s2
),
s4 AS (
  SELECT doc_id, n_email, n_iban, n_ipv6,
         CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT)
           AS n_ipv4,
         regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g') AS t
  FROM s3
)
SELECT doc_id, n_email, n_iban, n_ipv6, n_ipv4,
       CAST(len(regexp_extract_all(t, '\+?\d[\d\- ]{7,14}\d')) AS BIGINT)
         AS n_phone,
       regexp_replace(t, '\+?\d[\d\- ]{7,14}\d', '<PHONE>', 'g') AS clean_text
FROM s4
""",
        # synthesis rule of synth_png_media: w=4+i%5, h=3+i%4, channels
        # 3 (even id) / 4 (odd id), channel-flattened pixel k = (7k+i)%256;
        # static series range (4*8*6=192) because DuckDB's generate_series
        # cannot be laterally correlated
        "png_decode_stats": """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS c
  FROM documents
)
SELECT m.media_id, 'image' AS kind, true AS decoded,
       CAST(m.w AS INTEGER) AS width, CAST(m.h AS INTEGER) AS height,
       CAST(SUM((t.k * 7 + m.i) % 256) AS BIGINT) AS px_sum
FROM m, generate_series(0, 191) AS t(k)
WHERE t.k < m.c * m.w * m.h
GROUP BY m.media_id, m.w, m.h
""",
        "publisher_stats": """
SELECT source, CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
""",
        "token_count": """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
FROM documents WHERE length(trim(text)) > 0
""",
        "bpe_token_count": """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
""",
        "lang_id": _lang_id_sql(),
        "quality_score": _quality_sql(),
        "fingerprint": """
WITH base AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS t
  FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
),
sh AS (
  SELECT doc_id, min(md5(array_to_string(t[i:i+2], ' '))) AS min_shingle_fp
  FROM base, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
  GROUP BY doc_id
)
SELECT b.doc_id,
       md5(lower(regexp_replace(b.text, '[^A-Za-z0-9]', '', 'g'))) AS norm_fp,
       sh.min_shingle_fp
FROM base b JOIN sh USING (doc_id)
""",
        "minhash_pairs": f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDED_CTE}
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM banded x JOIN banded y
  ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
""",
        "ngram_jaccard": f"""
WITH {_SHINGLES_CTE},
{_MINHASH_BANDED_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT c.a, c.b,
       round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.2
""",
        "simhash": _simhash_sql(),
        "simhash_near_dup": f"""
WITH sim AS ({_simhash_sql()})
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM sim x JOIN sim y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
""",
        "simhash_wide_near_dup": f"""
WITH sim AS ({_simhash_sql(60)})
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM sim x JOIN sim y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
""",
        "dedup_clusters": f"""
WITH RECURSIVE sim AS ({_simhash_sql(60)}),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM sim x JOIN sim y ON x.doc_id < y.doc_id
  WHERE bit_count(xor(x.simhash, y.simhash)) <= 4
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION SELECT b, a FROM pairs
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM sim
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON e.dst = w.node
)
SELECT node AS doc_id, min(comp) AS component,
       (node = min(comp)) AS is_keeper
FROM walk GROUP BY node
""",
        "cosine_topk": _COSINE_TOPK_SQL,
        "embedding_near_dup": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id < 1000)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
         AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.5
""",
        "sessionize": """
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM s
)
SELECT user_id, session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT) AS span_secs,
       round(sum(value), 6) AS total_value
FROM sess GROUP BY user_id, session_seq
""",
        "latest_event": """
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""",
        "pii_redact": r"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.7 tel +1 555-01'
                      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-2345'
                 ELSE '' END AS text
  FROM documents WHERE text IS NOT NULL
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_email,
         regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
           AS t
  FROM salted
),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT)
           AS n_ipv4,
         regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g') AS t
  FROM s1
)
SELECT doc_id, n_email, n_ipv4,
       CAST(len(regexp_extract_all(t, '\+?\d[\d\- ]{7,14}\d')) AS BIGINT)
         AS n_phone,
       regexp_replace(t, '\+?\d[\d\- ]{7,14}\d', '<PHONE>', 'g') AS clean_text
FROM s2
""",
        "shard_packing": """
SELECT doc_id,
       CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS prefix_sum,
       CAST(floor(coalesce(sum(n_chars) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 50000) AS INT) AS shard_id
FROM documents
""",
        "concat_chunk": """
WITH p AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n,
         CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS prefix
  FROM documents WHERE n_chars > 0
)
SELECT CAST(i AS BIGINT) AS chunk_id, doc_id,
       CAST(greatest(i * 4096 - prefix, 0) AS BIGINT) AS doc_start,
       CAST(least(n, (i + 1) * 4096 - prefix) AS BIGINT) AS doc_end,
       CAST(greatest(prefix - i * 4096, 0) AS BIGINT) AS chunk_off
FROM p, UNNEST(generate_series(prefix // 4096,
                               (prefix + n - 1) // 4096)) AS g(i)
""",
        "temperature_sample": """
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
r AS (SELECT source,
             CAST(floor(round(pow(CAST(n AS DOUBLE)
                                  / (SELECT min(n) FROM c), -0.5), 9)
                        * 4294967296.0) AS BIGINT) AS cut
      FROM c)
SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
FROM documents d JOIN r USING (source)
WHERE CAST('0x' || substr(md5('temp-v1:' || CAST(d.doc_id AS VARCHAR)),
                          1, 8) AS BIGINT) < r.cut
GROUP BY d.source
""",
        "hll_distinct": _hll_sql(p=8),
        "pagerank": _pagerank_sql(iters=3, damping=0.85),
        "textrank_keywords": _textrank_sql(iters=3, damping=0.85, k=25,
                                           min_len=4),
        "random_walks": _walks_sql(walk_len=3, walks_per_node=2,
                                   salt="walk-v1"),
        "split_sentences": r"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE text IS NOT NULL
),
b AS (
  SELECT doc_id, text, n,
         list_filter(generate_series(1, n), i ->
           substr(text, i, 1) IN ('.', '!', '?')
           AND substr(text, i + 1, 1) = ' '
           AND regexp_matches(substr(text, i + 2, 1), '^[A-Z0-9]$')
           AND NOT regexp_matches(
                 lower(substr(text, greatest(i - 10, 1),
                              i - greatest(i - 10, 1))),
                 '(^|[^a-z])(mr|mrs|ms|dr|prof|sr|jr|st|vs|etc|fig|no|e\.g|i\.e)$')
         ) AS bnd
  FROM base
),
segs AS (
  SELECT doc_id, text,
         list_prepend(1, list_transform(bnd, i -> i + 2)) AS starts,
         list_append(list_transform(bnd, i -> i + 1), n + 1) AS ends
  FROM b
),
z AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(starts)),
           k -> {'sid': k - 1, 'st': starts[k],
                 'sent': substr(text, starts[k], ends[k] - starts[k])})) AS s
  FROM segs
)
SELECT doc_id, CAST(s.sid AS INTEGER) AS sent_id,
       CAST(s.st - 1 AS INTEGER) AS start_off,
       s.sent AS sentence
FROM z WHERE trim(s.sent) <> ''
""",
        "hashed_ngram_score": r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
                                        '\s+'), t -> t <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         list_concat(toks,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])) AS grams
  FROM base
),
w AS (
  SELECT doc_id, len(grams) AS n_grams,
         list_sum(list_transform(grams,
           gr -> (CAST('0x' || substr(md5('ft:' || gr), 1, 15) AS BIGINT)
                  % 1000003) * 2654435761 % 2000003 - 1000001)) AS total
  FROM g
)
SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
       CASE WHEN n_grams > 0
            THEN round(total / (n_grams * 1000001.0), 9)
            ELSE 0.0 END AS ft_score,
       CASE WHEN n_grams > 0
            THEN round(total / (n_grams * 1000001.0), 9)
            ELSE 0.0 END >= 0.0 AS keep
FROM w
""",
        "weighted_sample": """
SELECT source, doc_id
FROM (SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY -ln((CAST('0x' || substr(md5('wsample-v1:'
                              || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                             + 0.5) / 4294967296.0)
                        / CAST(n_chars AS DOUBLE),
                        doc_id) AS rn
      FROM documents WHERE n_chars > 0)
WHERE rn <= 5
""",
        "rollup_counts": """
SELECT coalesce(source, '<all>') AS source,
       coalesce(lang, '<all>') AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total
FROM documents
GROUP BY ROLLUP (source, lang)
""",
        "pivot_counts": """
SELECT source,
       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents
GROUP BY source
""",
        "ewma": f"""
WITH s AS (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, CAST(len(xs) AS BIGINT) AS n_events,
       round(list_reduce(xs, (acc, x) ->
             CAST({0.3!r} AS DOUBLE) * x
             + CAST({1.0 - 0.3!r} AS DOUBLE) * acc), 6) AS ewma
FROM s
""",
        "snapshot_diff": """
WITH o AS (
  SELECT doc_id,
         md5(coalesce(md5(lang), 'n') ||
             coalesce(md5(CAST(n_chars AS VARCHAR)), 'n') ||
             coalesce(md5(source), 'n') ||
             coalesce(md5(text), 'n')) AS old_hash
  FROM documents WHERE doc_id % 10 != 0
),
n AS (
  SELECT doc_id,
         md5(coalesce(md5(lang), 'n') ||
             coalesce(md5(CAST(n_chars AS VARCHAR)), 'n') ||
             coalesce(md5(source), 'n') ||
             coalesce(md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [v2]'
                               ELSE text END), 'n')) AS new_hash
  FROM documents WHERE doc_id % 7 != 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash != new_hash THEN 'changed' END AS change,
       old_hash, new_hash
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash != new_hash
""",
        "length_histogram": """
SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
       0.0 + bin * 200.0 AS bin_lo
FROM (SELECT source,
             (CAST(n_chars AS BIGINT) - 0) * 20 // 4000 AS bin
      FROM documents WHERE n_chars >= 0 AND n_chars < 4000)
GROUP BY source, bin
""",
        "length_quantiles": """
WITH a AS (
  SELECT source,
         quantile_cont(CAST(n_chars AS DOUBLE),
                       [0.1, 0.5, 0.9, 0.99]) AS qs
  FROM documents GROUP BY source
)
SELECT source,
       CAST([0.1, 0.5, 0.9, 0.99][i] AS DOUBLE) AS p,
       qs[i] AS q
FROM a, UNNEST(generate_series(1, 4)) AS g(i)
""",
        "sampled_quantiles": """
WITH s AS (
  SELECT source, n_chars FROM (
    SELECT source, n_chars,
           row_number() OVER (
             PARTITION BY source
             ORDER BY md5('qsketch-v1:' || CAST(doc_id AS VARCHAR)),
                      doc_id) AS rn
    FROM documents)
  WHERE rn <= 16
),
a AS (
  SELECT source,
         quantile_cont(CAST(n_chars AS DOUBLE), [0.25, 0.5, 0.75]) AS qs
  FROM s GROUP BY source
)
SELECT source, CAST([0.25, 0.5, 0.75][i] AS DOUBLE) AS p, qs[i] AS q
FROM a, UNNEST(generate_series(1, 3)) AS g(i)
""",
        "uniform_sample": """
SELECT source, doc_id
FROM (SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('sample-v1:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rn
      FROM documents)
WHERE rn <= 5
""",
        # the sketch is pruning only — the exact answer is a plain
        # GROUP BY ... HAVING with the integer threshold
        "heavy_hitters": r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents WHERE length(trim(text)) > 0
),
n AS (SELECT count(*) AS n_total FROM toks)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM toks, n
GROUP BY token, n_total
HAVING count(*) * 41 > n_total
""",
        # trending: same adjacency (exactly one interval earlier, gaps
        # trend against 0) and the same smoothed integer-ratio tree
        "trending_counts": """
WITH c AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
l AS (
  SELECT w, event_type, n_events,
         lag(w) OVER pk AS prev_w,
         lag(n_events) OVER pk AS prev_n
  FROM c WINDOW pk AS (PARTITION BY event_type ORDER BY w)
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start_s,
       event_type, n_events,
       CAST(CASE WHEN prev_w + INTERVAL '1 hour' = w THEN prev_n
                 ELSE 0 END AS BIGINT) AS prev_events,
       round(CAST(n_events + 1 AS DOUBLE) /
             CAST((CASE WHEN prev_w + INTERVAL '1 hour' = w THEN prev_n
                        ELSE 0 END) + 1 AS DOUBLE), 6) AS trend
FROM l WHERE prev_w IS NOT NULL
""",
        "char_entropy": _CHAR_ENTROPY_SQL,
        "mojibake_repair": _mojibake_sql(),
        "cdc_chunks": _cdc_sql(w=16, divisor=64),
        "cdc_chunks_gear": _cdc_gear_sql(divisor=64),
        "cdc_revision_pairs": _cdc_sql(
            w=16, divisor=64, src="corpus",
            prefix=_CDC_REVISION_PREFIX, tail=_CDC_REVISION_TAIL),
        "cdc_shared_chunks": _cdc_sql(
            w=16, divisor=64, src="corpus",
            prefix=_CDC_SHARED_PREFIX, tail=_CDC_SHARED_TAIL),
        "winnow_overlap": _winnow_overlap_sql(),
        "dedup_audit": _dedup_audit_sql(threshold=0.4, sample_mod=5),
        "table_stats": _table_stats_sql(),
        "skew_profile": """
WITH c AS (
  SELECT source AS key, CAST(count(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY 1
),
t AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS total FROM c),
r AS (
  SELECT key, n_rows,
         row_number() OVER w AS key_rank,
         sum(n_rows) OVER (w ROWS UNBOUNDED PRECEDING) AS cum
  FROM c WINDOW w AS (ORDER BY n_rows DESC, key ASC NULLS LAST)
)
SELECT key, n_rows,
       round(n_rows / t.total, 6) AS share,
       round(cum / t.total, 6) AS cum_share,
       CAST(key_rank AS INT) AS key_rank
FROM r, t
""",
        # sliding passages: same start rule (full strides + clamped
        # tail, distinct, re-indexed), inclusive-slice rebuild
        "sliding_passages": r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
starts AS (
  SELECT DISTINCT doc_id,
         least(i * 8, greatest(len(w) - 16, 0)) AS tok_start
  FROM t, UNNEST(generate_series(0,
           greatest(CAST(ceil((len(w) - 16) / CAST(8 AS DOUBLE)) AS INT),
                    0))) AS g(i)
),
r AS (
  SELECT s.doc_id, t.w, s.tok_start,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY s.tok_start) - 1 AS passage_idx
  FROM starts s JOIN t ON t.doc_id = s.doc_id
)
SELECT doc_id,
       CAST(passage_idx AS BIGINT) AS passage_idx,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(least(16, len(w) - tok_start) AS BIGINT) AS n_toks,
       array_to_string(w[tok_start + 1 : tok_start + 16], ' ') AS passage
FROM r
""",
        # symmetric int8 SQ: same clip/scale/round tree, integer dot —
        # bit-exact with no tolerance band
        "sq_topk": """
WITH c AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(round(least(greatest(x, -0.6), 0.6) * (127 / 0.6), 0)
                     AS INT)) AS codes
  FROM embeddings
),
q AS (SELECT codes AS qc FROM c WHERE vec_id = 0)
SELECT vec_id,
       CAST(list_dot_product(CAST(codes AS DOUBLE[]),
                             CAST(qc AS DOUBLE[])) AS BIGINT) AS dot
FROM c, q
ORDER BY dot DESC, vec_id
LIMIT 10
""",
        # script profiling: same injection, same RE2 character classes,
        # first-wins tie order replayed as a CASE chain
        "script_profile": """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 1 THEN 'привет мир это проверка данных'
              WHEN doc_id % 7 = 2 THEN '機器學習 データ 分析 研究'
              WHEN doc_id % 7 = 3 THEN 'مرحبا بالعالم اختبار'
              ELSE text END AS t
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '[A-Za-zÀ-ɏ]')) AS BIGINT) AS n_latin,
         CAST(len(regexp_extract_all(t, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyrillic,
         CAST(len(regexp_extract_all(t, '[Ͱ-Ͽ]')) AS BIGINT) AS n_greek,
         CAST(len(regexp_extract_all(t, '[؀-ۿ]')) AS BIGINT) AS n_arabic,
         CAST(len(regexp_extract_all(t, '[֐-׿]')) AS BIGINT) AS n_hebrew,
         CAST(len(regexp_extract_all(t, '[ऀ-ॿ]')) AS BIGINT) AS n_devanagari,
         CAST(len(regexp_extract_all(t, '[一-鿿぀-ヿ]')) AS BIGINT) AS n_cjk,
         CAST(len(regexp_extract_all(t, '[가-힯]')) AS BIGINT) AS n_hangul
  FROM d
)
SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_hebrew,
       n_devanagari, n_cjk, n_hangul,
       CASE WHEN greatest(n_latin, n_cyrillic, n_greek, n_arabic,
                          n_hebrew, n_devanagari, n_cjk, n_hangul) = 0
            THEN 'none'
            WHEN n_latin = greatest(n_latin, n_cyrillic, n_greek, n_arabic,
                                    n_hebrew, n_devanagari, n_cjk, n_hangul)
            THEN 'latin'
            WHEN n_cyrillic = greatest(n_cyrillic, n_greek, n_arabic,
                                       n_hebrew, n_devanagari, n_cjk,
                                       n_hangul) THEN 'cyrillic'
            WHEN n_greek = greatest(n_greek, n_arabic, n_hebrew,
                                    n_devanagari, n_cjk, n_hangul)
            THEN 'greek'
            WHEN n_arabic = greatest(n_arabic, n_hebrew, n_devanagari,
                                     n_cjk, n_hangul) THEN 'arabic'
            WHEN n_hebrew = greatest(n_hebrew, n_devanagari, n_cjk,
                                     n_hangul) THEN 'hebrew'
            WHEN n_devanagari = greatest(n_devanagari, n_cjk, n_hangul)
            THEN 'devanagari'
            WHEN n_cjk = greatest(n_cjk, n_hangul) THEN 'cjk'
            ELSE 'hangul' END AS dominant_script
FROM c
""",
        # winnowing: windows replayed positionally; struct min = min
        # hash then rightmost position (nj = -pos)
        "winnow_fingerprints": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents
  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         CAST('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15)
              AS BIGINT) AS h
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS u(i)
),
ng AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
starts AS (
  SELECT doc_id, s - 1 AS s
  FROM ng, UNNEST(generate_series(1, greatest(n - 3, 1))) AS u(s)
),
wins AS (
  SELECT st.doc_id, st.s, min({'h': g.h, 'nj': -g.pos}) AS m
  FROM starts st
  JOIN g ON g.doc_id = st.doc_id AND g.pos BETWEEN st.s AND st.s + 3
  GROUP BY st.doc_id, st.s
)
SELECT DISTINCT doc_id, m.h AS fp_hash, CAST(-m.nj AS BIGINT) AS pos
FROM wins
""",
        # interpolated KN: same fixed operation tree as the Spark
        # expression — (greatest(c12-D,0) + (D*nfollow)*(nprec/nbig))/c1
        "kn_bigram_probs": r"""
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM documents
),
big AS (
  SELECT w[i] AS w1, w[i+1] AS w2, CAST(count(*) AS BIGINT) AS c12
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
  WHERE len(w) >= 2 AND w[i] <> '' AND w[i+1] <> ''
  GROUP BY 1, 2
),
ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS nfollow FROM big GROUP BY w1),
prec AS (SELECT w2, count(*) AS nprec FROM big GROUP BY w2),
k AS (
  SELECT CAST(count(*) AS BIGINT) AS nbig,
         CASE WHEN sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END)
                   + 2 * sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) > 0
              THEN CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                   CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END)
                        + 2 * sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END)
                        AS DOUBLE)
              ELSE 0.5 END AS D
  FROM big
)
SELECT b.w1, b.w2, b.c12,
       round((greatest(CAST(b.c12 AS DOUBLE) - k.D, 0.0)
              + (k.D * ctx.nfollow)
                * (CAST(prec.nprec AS DOUBLE) / CAST(k.nbig AS DOUBLE)))
             / CAST(ctx.c1 AS DOUBLE), 9) AS prob
FROM big b
JOIN ctx ON b.w1 = ctx.w1
JOIN prec ON b.w2 = prec.w2
CROSS JOIN k
""",
        # implementation-free positional replay of all-occurrences
        # substring matching (1-based i => first_end = i + len - 1)
        "blocklist_scan": """
WITH p(phrase) AS (VALUES ('customer query'), ('hash value'),
                          ('scan slow'), ('table table')),
d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lower(text) AS t
  FROM documents WHERE text IS NOT NULL
),
hits AS (
  SELECT d.doc_id, p.phrase, i + length(p.phrase) - 1 AS end_pos
  FROM d, p,
       UNNEST(generate_series(1, length(d.t) - length(p.phrase) + 1)) AS g(i)
  WHERE substr(d.t, i, length(p.phrase)) = p.phrase
)
SELECT doc_id, phrase, CAST(count(*) AS BIGINT) AS n_hits,
       CAST(min(end_pos) AS INT) AS first_end
FROM hits GROUP BY doc_id, phrase
""",
        "pmi_pairs": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
),
pos AS (
  SELECT doc_id, i AS pos, w[i + 1] AS tok
  FROM toks, UNNEST(generate_series(0, len(w) - 1)) t(i)
  WHERE len(w) >= 2
),
pr AS (
  SELECT least(a.tok, b.tok) AS a, greatest(a.tok, b.tok) AS b
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 3
  WHERE a.tok != b.tok AND a.tok != '' AND b.tok != ''
),
c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM pr GROUP BY a, b),
m AS (SELECT w, sum(n_ab) AS n_w
      FROM (SELECT a AS w, n_ab FROM c UNION ALL SELECT b, n_ab FROM c)
      GROUP BY w),
t AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS total FROM c)
SELECT c.a, c.b, c.n_ab,
       round(ln(CAST(c.n_ab AS DOUBLE) * (SELECT total FROM t)
                / (CAST(ma.n_w AS DOUBLE) * CAST(mb.n_w AS DOUBLE))),
             6) AS pmi
FROM c JOIN m ma ON c.a = ma.w JOIN m mb ON c.b = mb.w
WHERE c.n_ab >= 5
ORDER BY pmi DESC, c.a, c.b
LIMIT 50
""",
        "language_quota": f"""
WITH q AS ({_quality_sql()})
SELECT d.lang, q.doc_id,
       CAST(row_number() OVER (PARTITION BY d.lang
            ORDER BY q.quality_score DESC, q.doc_id) AS INT) AS rank,
       q.quality_score
FROM q JOIN documents d USING (doc_id)
QUALIFY rank <= 15
""",
        "dataset_split": """
SELECT CASE WHEN d < 429496729 THEN 'test'
            WHEN d < 858993458 THEN 'val'
            ELSE 'train' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (SELECT n_chars,
             CAST('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) AS d
      FROM documents)
GROUP BY 1
""",
        "tfidf_top_terms": """
WITH nonempty AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
),
occ AS (SELECT doc_id, unnest(toks) AS token FROM nonempty),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       FROM occ GROUP BY doc_id, token),
pairs AS (SELECT DISTINCT doc_id, unnest(toks) AS token FROM nonempty),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM nonempty),
idf AS (
  SELECT token, ln((n_docs + 1.0) / (count(*) + 1)) + 1.0 AS idf
  FROM pairs, n GROUP BY token, n_docs
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, round(tf.tf * idf.idf, 6) AS tfidf
  FROM tf JOIN idf USING (token)
)
SELECT doc_id, token, tf, tfidf, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token ASC) AS rank
  FROM scored
) WHERE rank <= 3
""",
        "pdf_parse": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
FROM documents WHERE text IS NOT NULL
""",
        "repetition_stats": r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND len(string_split_regex(trim(text), '\s+')) >= 2
),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(w, i, i + 1), ' ') AS gram
  FROM w, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_gram_frac,
       CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
         / CAST(sum(cnt) AS DOUBLE) AS dup_gram_frac,
       CAST(sum(cnt) AS BIGINT) AS n_grams
FROM c GROUP BY doc_id
""",
        "chunk_dedup": r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND len(string_split_regex(trim(text), '\s+')) > 0
),
c AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(w, i * 20 + 1, i * 20 + 20), ' ') AS chunk
  FROM w, UNNEST(generate_series(0, (len(w) - 1) // 20)) AS u(i)
),
firsts AS (
  SELECT doc_id, pos, chunk FROM (
    SELECT doc_id, pos, chunk,
           row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
    FROM c) WHERE rn = 1
)
SELECT doc_id,
       CAST(length(string_agg(chunk, ' ' ORDER BY pos)) AS BIGINT) AS clean_len,
       md5(string_agg(chunk, ' ' ORDER BY pos)) AS clean_md5
FROM firsts GROUP BY doc_id
""",
        "exact_substring_spans": r"""
WITH aug AS (
  SELECT doc_id,
         string_split_regex(trim(concat_ws(' ',
           CASE WHEN doc_id % 7 = 0 THEN
             'breaking news update from our central desk stay informed with the latest headlines delivered every morning to your inbox free'
           END,
           text,
           CASE WHEN doc_id % 5 = 0 THEN
             'copyright twenty twenty four all rights reserved worldwide syndication network'
           END)), '\s+') AS s
  FROM documents WHERE text IS NOT NULL
),
occ AS (
  SELECT doc_id, i AS pos,
         CAST('0x' || substr(md5(array_to_string(
             list_slice(s, i + 1, i + 8), ' ')), 1, 15) AS BIGINT) AS g
  FROM aug, UNNEST(generate_series(0, len(s) - 8)) AS u(i)
  WHERE len(s) >= 8
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY g) AS cnt,
           row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
    FROM occ) WHERE cnt >= 2 AND rn > 1
),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
              THEN 1 ELSE 0 END AS b
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brk
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_len,
       count(*) AS n_grams
FROM isl GROUP BY doc_id, island
""",
        "span_dedup": r"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND len(string_split_regex(trim(text), '\s+')) > 0
),
sl AS (
  SELECT doc_id,
         list_concat(
           CASE WHEN doc_id % 7 = 0 THEN
             ['subscribe to our newsletter for daily updates',
              'all rights reserved by the publisher',
              'click here to read the full story']
           ELSE [] END,
           list_transform(generate_series(0, (len(w) - 1) // 7),
             i -> array_to_string(list_slice(w, i * 7 + 1, i * 7 + 7), ' '))
         ) AS s
  FROM base
),
occ AS (
  SELECT doc_id, i AS pos,
         CAST('0x' || substr(md5(array_to_string(
             list_slice(s, i + 1, i + 3), chr(31))), 1, 15) AS BIGINT) AS span_h
  FROM sl, UNNEST(generate_series(0, len(s) - 3)) AS u(i)
  WHERE len(s) >= 3
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY span_h ORDER BY doc_id, pos) AS rn
    FROM occ) WHERE rn > 1
),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS sent_pos
  FROM dup, UNNEST(generate_series(0, 2)) AS v(j)
),
sents AS (
  SELECT doc_id, i AS sent_pos, s[i + 1] AS sentence
  FROM sl, UNNEST(generate_series(0, len(s) - 1)) AS u(i)
)
SELECT sents.doc_id,
       CAST(length(string_agg(sentence, chr(10) ORDER BY sent_pos)) AS BIGINT)
         AS clean_len,
       md5(string_agg(sentence, chr(10) ORDER BY sent_pos)) AS clean_md5
FROM sents
ANTI JOIN covered
  ON sents.doc_id = covered.doc_id AND sents.sent_pos = covered.sent_pos
GROUP BY sents.doc_id
""",
        "contamination": r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents
  WHERE text IS NOT NULL AND len(string_split_regex(trim(text), '\s+')) >= 4
),
g AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(array_to_string(list_slice(w, i, i + 3), ' ')),
                             1, 15) AS BIGINT) AS gram_h
  FROM w, UNNEST(generate_series(1, len(w) - 3)) AS u(i)
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM (SELECT doc_id, gram_h FROM g WHERE doc_id % 100 != 0) t
JOIN (SELECT DISTINCT gram_h FROM g WHERE doc_id % 100 = 0) b USING (gram_h)
GROUP BY t.doc_id
""",
        "stratified_sample": """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM (SELECT source, n_chars,
             CAST('0x' || substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) AS d
      FROM documents)
WHERE d < CASE source WHEN 'src0' THEN 4294967296
                      WHEN 'src1' THEN 2147483648
                      WHEN 'src2' THEN 1073741824
                      ELSE 429496729 END
GROUP BY source
""",
        "url_canonicalize": r"""
WITH u AS (
  SELECT doc_id, trim(CASE
    WHEN doc_id % 11 = 0 THEN 'https://spam.example.com/p/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 13 = 0 THEN 'https://' || source || '.example.org/casino/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 7 = 0 THEN 'HTTP://' || upper(source) || '.Example.COM:80/A/' || CAST(doc_id AS VARCHAR) || '?utm_source=rss&z=9&a=1#top'
    WHEN doc_id % 3 = 0 THEN 'https://' || source || '.example.org/a/' || CAST(doc_id AS VARCHAR) || '?utm_campaign=x&b=2'
    WHEN doc_id % 5 = 0 THEN 'ftp://files.example.org/' || CAST(doc_id AS VARCHAR)
    ELSE 'https://' || source || '.example.org/a/' || CAST(doc_id AS VARCHAR)
  END) AS s
  FROM documents
),
parts AS (
  SELECT doc_id, s, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(host_raw, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(host_raw, ':443$', '')
         ELSE host_raw END AS host,
    coalesce(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), '') AS after
  FROM (SELECT doc_id, s,
          lower(coalesce(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
          lower(coalesce(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')) AS host_raw
        FROM u)
),
pq AS (
  SELECT doc_id, s, scheme, host,
    CASE WHEN coalesce(regexp_extract(after, '^([^?]*)', 1), '') = '' THEN '/'
         ELSE regexp_extract(after, '^([^?]*)', 1) END AS path,
    coalesce(array_to_string(list_sort(list_filter(
      string_split(coalesce(regexp_extract(after, '\?(.*)$', 1), ''), '&'),
      p -> p != '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|mc_cid|mc_eid|ref)='))), '&'), '') AS q
  FROM parts
),
canon AS (
  SELECT doc_id,
    CASE WHEN scheme = '' THEN s
         ELSE scheme || '://' || host || path ||
              CASE WHEN q = '' THEN '' ELSE '?' || q END END AS canon_url
  FROM pq
),
flagged AS (
  SELECT doc_id, canon_url,
    lower(coalesce(regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')) AS chost
  FROM canon
),
reasoned AS (
  SELECT doc_id, canon_url,
    CASE WHEN NOT regexp_matches(lower(canon_url), '^https?://') THEN 'scheme'
         WHEN chost = 'spam.example.com' OR chost LIKE '%.spam.example.com'
           OR chost = 'lnk.example' OR chost LIKE '%.lnk.example'
           THEN 'blocked_domain'
         WHEN lower(canon_url) LIKE '%casino%' OR lower(canon_url) LIKE '%xxx%'
           OR lower(canon_url) LIKE '%porn%' OR lower(canon_url) LIKE '%viagra%'
           THEN 'badword'
         WHEN length(canon_url) > 2048 THEN 'too_long'
    END AS drop_reason
  FROM flagged
)
SELECT doc_id, canon_url, drop_reason IS NULL AS keep, drop_reason
FROM reasoned
""",
        "url_dedup": r"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://Ex.COM:80' ELSE 'http://ex.com' END)
    || '/a/' || CAST(doc_id % 50 AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&q=1#f' ELSE '?q=1' END)
      AS s
  FROM documents
),
parts AS (
  SELECT doc_id, s, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(host_raw, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(host_raw, ':443$', '')
         ELSE host_raw END AS host,
    coalesce(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), '') AS after
  FROM (SELECT doc_id, s,
          lower(coalesce(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
          lower(coalesce(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')) AS host_raw
        FROM u)
),
canon AS (
  SELECT doc_id,
    scheme || '://' || host
    || (CASE WHEN coalesce(regexp_extract(after, '^([^?]*)', 1), '') = '' THEN '/'
             ELSE regexp_extract(after, '^([^?]*)', 1) END)
    || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon_url
  FROM (SELECT *, coalesce(array_to_string(list_sort(list_filter(
          string_split(coalesce(regexp_extract(after, '\?(.*)$', 1), ''), '&'),
          p -> p != '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|mc_cid|mc_eid|ref)='))), '&'), '') AS q
        FROM parts)
)
SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS doc_id
FROM canon GROUP BY canon_url
""",
        "normalize_text": r"""
SELECT doc_id,
  trim(regexp_replace(regexp_replace(
    '  ' || text || chr(9) || 'x' || chr(1) || chr(13) || chr(10) || ' end  ',
    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'), '\s+', ' ', 'g'))
    AS norm_text
FROM documents WHERE text IS NOT NULL
""",
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "embedding_near_dup_lsh": _emb_lsh_pairs_sql(),
        "multimodal_features": _multimodal_sql(),
        "incremental_dedup": _incremental_dedup_sql(),
        "quality_gate": _quality_gate_sql(),
        "gate_reason_counts": f"""
WITH gated AS ({_quality_gate_sql()})
SELECT reject_reason, CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) * 1.0 / (SELECT count(*) FROM gated), 6) AS share
FROM gated GROUP BY reject_reason
""",
        "blocklist_verdict": r"""
WITH p(phrase) AS (VALUES ('customer query'), ('hash value'),
                          ('scan slow'), ('table table')),
d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lower(text) AS t
  FROM documents WHERE text IS NOT NULL
),
hits AS (
  SELECT d.doc_id
  FROM d, p,
       UNNEST(generate_series(1, length(d.t) - length(p.phrase) + 1)) AS g(i)
  WHERE substr(d.t, i, length(p.phrase)) = p.phrase
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        FROM hits GROUP BY doc_id)
SELECT b.doc_id,
       coalesce(tot.n, 0) AS total_hits,
       coalesce(tot.n, 0) > 0 AS blocked
FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) b
LEFT JOIN tot USING (doc_id)
""",
        "zorder_layout": _zorder_sql(),
        "hits_scores": _hits_sql(),
        "asof_join": """
SELECT l.event_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       coalesce(r.event_id, -1) AS view_id,
       coalesce(strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f'), '') AS view_ts_s,
       coalesce(r.value, -1.0) AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
        "interval_join": """
SELECT s.event_id AS signup_id, s.user_id, c.event_id AS click_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts_s
FROM (SELECT * FROM events WHERE event_type = 'signup') s
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON s.user_id = c.user_id
 AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 1 HOUR
""",
        # exact replay: bounded-depth reachability CTE -> the same md5
        # register/estimate arithmetic as the oracle-green hll oracle
        # (p=6: kmax=55, m=64, alpha*m^2*2^55 literal below)
        "hyperball": """
WITH RECURSIVE
edges AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
reach AS (
  SELECT node AS v, node AS u, 0 AS d FROM nodes
  UNION
  SELECT r.v, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.u
  WHERE r.d < 2
),
ball AS (
  SELECT t.t, r.v, r.u
  FROM (VALUES (0),(1),(2)) t(t) JOIN reach r ON r.d <= t.t
  GROUP BY t.t, r.v, r.u
),
h AS (
  SELECT t, v,
         CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM ball
),
regs AS (
  SELECT t, v, h % 64 AS bucket,
         max(CASE WHEN (h >> 6) = 0 THEN 55
                  ELSE 55 - length(bin(h >> 6)) END) AS register
  FROM h GROUP BY t, v, h % 64
),
agg AS (
  SELECT t, v, sum(1::BIGINT << (55 - register)) AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY t, v
)
SELECT v AS node, t,
       round(CASE WHEN raw <= 160.0 AND vv > 0
                  THEN 64.0 * ln(64.0 / vv) ELSE raw END, 6) AS n_est
FROM (SELECT t, v,
             1.046802484394006e+20
               / CAST(s_present + (64 - n_present) * (1::BIGINT << 55)
                      AS DOUBLE) AS raw,
             CAST(64 - n_present AS DOUBLE) AS vv
      FROM agg)
""",
        # same replay + the per-node lag/t fold over the ROUNDED n_est
        "harmonic_centrality": """
WITH RECURSIVE
edges AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
reach AS (
  SELECT node AS v, node AS u, 0 AS d FROM nodes
  UNION
  SELECT r.v, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.u
  WHERE r.d < 2
),
ball AS (
  SELECT t.t, r.v, r.u
  FROM (VALUES (0),(1),(2)) t(t) JOIN reach r ON r.d <= t.t
  GROUP BY t.t, r.v, r.u
),
h AS (
  SELECT t, v,
         CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM ball
),
regs AS (
  SELECT t, v, h % 64 AS bucket,
         max(CASE WHEN (h >> 6) = 0 THEN 55
                  ELSE 55 - length(bin(h >> 6)) END) AS register
  FROM h GROUP BY t, v, h % 64
),
agg AS (
  SELECT t, v, sum(1::BIGINT << (55 - register)) AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY t, v
),
est AS (
  SELECT v AS node, t,
         round(CASE WHEN raw <= 160.0 AND vv > 0
                    THEN 64.0 * ln(64.0 / vv) ELSE raw END, 6) AS n_est
  FROM (SELECT t, v,
               1.046802484394006e+20
                 / CAST(s_present + (64 - n_present) * (1::BIGINT << 55)
                        AS DOUBLE) AS raw,
               CAST(64 - n_present AS DOUBLE) AS vv
        FROM agg)
),
lagd AS (
  SELECT node, t, n_est,
         lag(n_est) OVER (PARTITION BY node ORDER BY t) AS prev
  FROM est
)
SELECT node, round(sum((n_est - prev) / t), 6) AS harmonic
FROM lagd WHERE t > 0 GROUP BY node
""",
        # same est replay + scaled-int corpus sums + the interpolation
        "effective_diameter": """
WITH RECURSIVE
edges AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
reach AS (
  SELECT node AS v, node AS u, 0 AS d FROM nodes
  UNION
  SELECT r.v, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.u
  WHERE r.d < 2
),
ball AS (
  SELECT t.t, r.v, r.u
  FROM (VALUES (0),(1),(2)) t(t) JOIN reach r ON r.d <= t.t
  GROUP BY t.t, r.v, r.u
),
h AS (
  SELECT t, v,
         CAST('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM ball
),
regs AS (
  SELECT t, v, h % 64 AS bucket,
         max(CASE WHEN (h >> 6) = 0 THEN 55
                  ELSE 55 - length(bin(h >> 6)) END) AS register
  FROM h GROUP BY t, v, h % 64
),
agg AS (
  SELECT t, v, sum(1::BIGINT << (55 - register)) AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY t, v
),
est AS (
  SELECT v AS node, t,
         round(CASE WHEN raw <= 160.0 AND vv > 0
                    THEN 64.0 * ln(64.0 / vv) ELSE raw END, 6) AS n_est
  FROM (SELECT t, v,
               1.046802484394006e+20
                 / CAST(s_present + (64 - n_present) * (1::BIGINT << 55)
                        AS DOUBLE) AS raw,
               CAST(64 - n_present AS DOUBLE) AS vv
        FROM agg)
),
nt AS (
  SELECT t, sum(CAST(round(n_est * 1e6) AS BIGINT)) / 1e6 AS nt
  FROM est GROUP BY t
),
stepped AS (
  SELECT t, nt, lag(nt) OVER (ORDER BY t) AS prev,
         (SELECT 0.9 * max(nt) FROM nt) AS target
  FROM nt
),
hit AS (
  SELECT * FROM stepped WHERE nt >= target ORDER BY t LIMIT 1
)
SELECT (SELECT max(t) FROM nt) AS t_max,
       (SELECT round(max(nt), 6) FROM nt) AS reachable_pairs_max,
       round(CASE WHEN prev IS NULL OR nt = prev THEN CAST(t AS DOUBLE)
                  ELSE t - 1 + (target - prev) / (nt - prev) END, 6)
         AS effective_diameter
FROM hit
""",
        # replays the JSON-line construction rule (no JSON parse needed
        # oracle-side — the synth fields ARE the parse result)
        "jsonl_ingest": """
SELECT CASE WHEN doc_id % 13 IN (0, 1) THEN 'skip' ELSE 'ok' END AS status,
       CASE doc_id % 13 WHEN 0 THEN 'malformed_json'
                        WHEN 1 THEN 'missing_doc_id' ELSE '' END AS error,
       CASE WHEN doc_id % 13 IN (0, 1) THEN ''
            ELSE 'j' || doc_id END AS doc_id,
       CASE WHEN doc_id % 13 IN (0, 1) THEN '' ELSE text END AS text,
       CASE WHEN doc_id % 13 IN (0, 1) THEN '' ELSE lang END AS lang,
       CASE WHEN doc_id % 13 IN (0, 1) THEN '' ELSE source END AS source,
       CASE WHEN doc_id % 13 IN (0, 1) THEN ''
            ELSE '2025-01-0' || (doc_id % 9 + 1) END AS ts
FROM documents
WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
""",
        "k_anonymity": """
SELECT lang, source, n_chars % 16 AS len_bucket, count(*) AS class_n
FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
GROUP BY lang, source, n_chars % 16
HAVING count(*) < 3
""",
        "k_anonymity_summary": """
WITH classes AS (
  SELECT count(*) AS class_n
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source, n_chars % 16
)
SELECT count(*) AS n_classes,
       sum(CASE WHEN class_n < 3 THEN 1 ELSE 0 END) AS n_violating,
       sum(CASE WHEN class_n < 3 THEN class_n ELSE 0 END) AS exposed_rows,
       min(class_n) AS effective_k
FROM classes
""",
        # the min-k merge is batch-split blind: the oracle is the same
        # one-shot bottom-k replay as quantile_sketch
        "streaming_quantile_estimate": """
WITH samp AS (
  SELECT md5(CAST(doc_id AS VARCHAR)) AS h, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL
  ORDER BY h, v LIMIT 256
), ranked AS (
  SELECT v, row_number() OVER (ORDER BY v, h) - 1 AS r,
         count(*) OVER () AS n
  FROM samp
)
SELECT CAST(q.q AS DOUBLE) AS q, ranked.v AS est
FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.99)) q(q)
JOIN ranked ON ranked.r = CAST(floor(CAST(q.q AS DOUBLE) * (ranked.n - 1))
                               AS BIGINT)
""",
        # replays the md5 bottom-k sample row-exactly, then the pinned
        # nearest-rank pick — no tolerance band
        "quantile_sketch": """
WITH samp AS (
  SELECT md5(CAST(doc_id AS VARCHAR)) AS h, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL
  ORDER BY h, v LIMIT 256
), ranked AS (
  SELECT v, row_number() OVER (ORDER BY v, h) - 1 AS r,
         count(*) OVER () AS n
  FROM samp
)
SELECT CAST(q.q AS DOUBLE) AS q, ranked.v AS est
FROM (VALUES (0.1),(0.25),(0.5),(0.75),(0.9),(0.99)) q(q)
JOIN ranked ON ranked.r = CAST(floor(CAST(q.q AS DOUBLE) * (ranked.n - 1))
                               AS BIGINT)
""",
        # full OLS replay: same tokenization, same head cut (cnt desc,
        # token asc), same closed-form sums
        "zipf_fit": """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL
), freq AS (
  SELECT token, count(*) AS cnt FROM tok WHERE token <> '' GROUP BY token
), head AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
  FROM freq ORDER BY cnt DESC, token ASC LIMIT 300
), xy AS (
  SELECT log10(CAST(rank AS DOUBLE)) AS x, log10(CAST(cnt AS DOUBLE)) AS y
  FROM head
), s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
         sum(x*y) AS sxy, sum(y*y) AS syy FROM xy
)
SELECT n AS n_terms,
       round((n*sxy - sx*sy) / (n*sxx - sx*sx), 9) AS slope,
       round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 9)
         AS intercept,
       round(((n*sxy - sx*sy) * (n*sxy - sx*sy))
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 9) AS r2
FROM s
""",
        # replays the fused bundle from the shared head case rule + the
        # planted link/table cardinalities + the body-block contract
        # (text paragraph is the only block that survives scoring)
        "page_bundle": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'OG & ' || source
         WHEN 1 THEN 'LD ' || source
         WHEN 2 THEN 'T ' || doc_id || ' © ' || trim(substr(text, 1, 24))
         ELSE '' END AS headline,
       CASE doc_id % 4
         WHEN 0 THEN '2025-03-01T00:00:00Z'
         WHEN 1 THEN '2025-02-1' || (doc_id % 9)
         WHEN 2 THEN '2024-12-2' || (doc_id % 2)
         ELSE '' END AS published,
       3 AS n_links, 1 AS n_nofollow,
       CASE WHEN doc_id % 5 = 0 THEN 10 ELSE 9 END AS n_table_cells,
       trim(text) AS first_span_text
FROM documents WHERE text IS NOT NULL AND n_chars >= 50
""",
        # integer backoff replay: min(60 * 2^(max(n,1)-1), 86400)
        "retry_schedule": """
SELECT 'u' || doc_id AS url,
       least(60 * (1::BIGINT << (greatest(CAST(doc_id % 12 AS INT), 1) - 1)),
             86400) AS backoff_secs,
       1700000000 + doc_id
         + least(60 * (1::BIGINT
                       << (greatest(CAST(doc_id % 12 AS INT), 1) - 1)),
                 86400) AS next_epoch,
       doc_id % 12 > 8 AS give_up
FROM documents
""",
        # lexicographic-min replay of the declared alternate set
        "hreflang_clusters": """
SELECT least('u' || (doc_id - doc_id % 3),
             'u' || (doc_id - doc_id % 3 + 1),
             'u' || (doc_id - doc_id % 3 + 2)) AS cluster_id,
       'u' || doc_id AS url, 3 AS n_langs
FROM documents
""",
        # replays the 4-page chain rule from id arithmetic
        "pagination_chains": """
SELECT 'u' || (doc_id - doc_id % 4) AS chain_id,
       'u' || doc_id AS url, CAST(doc_id % 4 AS INT) AS pos
FROM documents
""",
        "pagination_assembly": """
SELECT 'u' || (doc_id - doc_id % 4) AS chain_id,
       count(*) AS n_pages,
       string_agg('T' || doc_id, chr(10) ORDER BY doc_id) AS full_text
FROM documents GROUP BY doc_id - doc_id % 4
""",
        # replays the OPML synth rule; malformed docs (%11) drop out
        "opml_import": """
SELECT CAST(doc_id AS VARCHAR) AS user_id,
       'https://feeds.example/' || doc_id || '.xml' AS feed_url,
       'F1 ' || source AS title,
       'https://' || source || '.example' AS site_url,
       'Cat ' || lang AS category
FROM documents
WHERE doc_id % 11 <> 0 AND source IS NOT NULL AND lang IS NOT NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR),
       'https://feeds.example/top-' || doc_id || '.xml', 'F2', '', ''
FROM documents
WHERE doc_id % 11 <> 0 AND source IS NOT NULL AND lang IS NOT NULL
""",
        # unrolled 2-iteration PPR replay; (1.0-0.85) mirrors the
        # Python-double restart constant exactly
        "personalized_pagerank": """
WITH edges AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
base AS (
  SELECT n.node, d.deg, n.node IN (0, 7, 13, 21) AS is_seed
  FROM nodes n LEFT JOIN deg d ON d.src = n.node
),
s0 AS (SELECT node, deg, is_seed,
              CASE WHEN is_seed THEN 0.25 ELSE 0.0 END AS rank FROM base),
d0 AS (SELECT coalesce(sum(rank), 0.0) AS m FROM s0 WHERE deg IS NULL),
c1 AS (SELECT e.dst, sum(s.rank / s.deg) AS c
       FROM s0 s JOIN edges e ON s.node = e.src GROUP BY e.dst),
s1 AS (
  SELECT b.node, b.deg, b.is_seed,
         round(0.85 * coalesce(c.c, 0.0)
               + CASE WHEN b.is_seed
                      THEN ((1.0 - 0.85) + 0.85 * (SELECT m FROM d0)) / 4
                      ELSE 0.0 END, 9) AS rank
  FROM base b LEFT JOIN c1 c ON b.node = c.dst
),
d1 AS (SELECT coalesce(sum(rank), 0.0) AS m FROM s1 WHERE deg IS NULL),
c2 AS (SELECT e.dst, sum(s.rank / s.deg) AS c
       FROM s1 s JOIN edges e ON s.node = e.src GROUP BY e.dst),
s2 AS (
  SELECT b.node, b.deg, b.is_seed,
         round(0.85 * coalesce(c.c, 0.0)
               + CASE WHEN b.is_seed
                      THEN ((1.0 - 0.85) + 0.85 * (SELECT m FROM d1)) / 4
                      ELSE 0.0 END, 9) AS rank
  FROM base b LEFT JOIN c2 c ON b.node = c.dst
)
SELECT node, rank FROM s2
""",
        # replays the cleaned-length offset sums span by span
        "span_rebase": """
WITH c AS (
  SELECT doc_id, lang, source,
         regexp_replace('meta  ' || lang, '[aeiou]', '', 'g') AS t0,
         regexp_replace(text, '[aeiou]', '', 'g') AS t2,
         regexp_replace('d ' || source, '[aeiou]', '', 'g') AS t3
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS idx, 'meta' AS kind,
       t0 AS text, 0 AS offset FROM c
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 'img', '', strlen(t0) FROM c
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, 'html', t2, strlen(t0) FROM c
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, 'desc', t3,
       strlen(t0) + strlen(t2) FROM c
""",
        # replays the ID3 synth id-rule incl. the version rotation
        "id3_extract": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'Ti' || (doc_id % 11) AS title,
       'Ar' || (doc_id % 7) AS artist,
       'Al' || (doc_id % 5) AS album,
       CAST(1990 + doc_id % 30 AS VARCHAR) AS year,
       CASE doc_id % 3 WHEN 0 THEN 'id3v2.3' WHEN 1 THEN 'id3v2.4'
            ELSE 'id3v1' END AS tag_version
FROM documents
""",
        # replays the MP3 synth id-rule: every stat is closed-form in
        # doc_id (frame count, rates, VBR alternation, ID3 presence)
        "mp3_frame_stats": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       (doc_id % 2 = 0) AS has_id3,
       CAST(3 + doc_id % 5 AS INT) AS n_frames,
       'v1' AS version,
       CAST(3 AS INT) AS layer,
       CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
            ELSE 32000 END AS INT) AS sample_rate,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 128
            ELSE (CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 160
                  ELSE 192 END) END AS INT) AS bitrate_kbps_min,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 192
            ELSE (CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 160
                  ELSE 192 END) END AS INT) AS bitrate_kbps_max,
       (doc_id % 4 = 0) AS vbr,
       CAST((3 + doc_id % 5) * 1152 AS BIGINT) AS total_samples
FROM documents
""",
        # replays the sidecar synth id-rule: Xing/Info/VBRI frame
        # counts, exact stream bytes via the spec frame-length floor
        # division (144*kbps*1000 // sr, VBR streams alternating two
        # rates), and frames*1152*1000 // sr durations; id%5 in (3,4)
        # has no sidecar -> NULLs
        "mp3_sidecar_stats": """
WITH base AS (
  SELECT doc_id,
         CAST(4 + doc_id % 6 AS BIGINT) AS n,
         CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END AS BIGINT) AS sr,
         doc_id % 5 AS k
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CASE k WHEN 0 THEN 'xing' WHEN 1 THEN 'info'
              WHEN 2 THEN 'vbri' END AS sidecar,
       CASE WHEN k <= 2 THEN CAST(n AS INT) END AS sc_frames,
       CASE k
         WHEN 0 THEN ((n + 1) // 2) * (144 * 128 * 1000 // sr)
                     + (n // 2) * (144 * 192 * 1000 // sr)
         WHEN 1 THEN n * (144 * 160 * 1000 // sr)
         WHEN 2 THEN n * (144 * 96 * 1000 // sr)
       END AS sc_bytes,
       CASE WHEN k <= 2 THEN CAST(doc_id % 101 AS INT) END AS sc_quality,
       CASE WHEN k <= 2 THEN n * 1152 * 1000 // sr END AS duration_ms
FROM base
""",
        # replays the MP4 synth id-rule: brand/tracks/duration closed-
        # form in doc_id (durations are multiples of 20 ms, exact
        # through every timescale in the rotation)
        "mp4_box_stats": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       TRUE AS is_bmff,
       CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS major_brand,
       CAST((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
            + (CASE WHEN doc_id % 3 > 0 THEN 1 ELSE 0 END) AS INT)
         AS n_tracks,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1000 WHEN 1 THEN 90000
            ELSE 600 END AS INT) AS timescale,
       CAST(1000 + (doc_id % 300) * 20 AS BIGINT) AS duration_ms,
       (doc_id % 2 = 0) AS has_video,
       (doc_id % 3 > 0) AS has_audio,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(160 + (doc_id % 16) * 8 AS INT) END AS width,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(90 + (doc_id % 9) * 6 AS INT) END AS height
FROM documents
""",
        # replays the EXIF synth id-rule incl. DMS -> decimal degrees
        "exif_extract": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'Mk' || (doc_id % 7) AS make,
       'Md' || (doc_id % 5) AS model,
       CAST(doc_id % 8 + 1 AS INT) AS orientation,
       '2025:0' || (doc_id % 9 + 1) || ':0' || (doc_id % 7 + 1)
         || ' 10:00:00' AS datetime,
       CASE WHEN doc_id % 3 = 0 THEN
         round((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END)
               * ((doc_id % 90) + (doc_id % 60) / 60.0), 6)
       ELSE -999.0 END AS gps_lat,
       CASE WHEN doc_id % 3 = 0 THEN
         round((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END)
               * ((doc_id % 180) + (doc_id % 60) / 60.0), 6)
       ELSE -999.0 END AS gps_lon
FROM documents
""",
        # replays the SRT synth rule: ordinals, ms arithmetic, markup
        # strip — independent of the kernel's line scanner
        "subtitle_parse": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS cue_idx,
       (doc_id % 5) * 1000 AS start_ms,
       (doc_id % 5 + 5) * 1000 + 500 AS end_ms,
       'Cue one ' || source AS text
FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 60000,
       60000 + (doc_id % 9) * 1000, 'Cue two ' || lang
FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
""",
        "corpus_health": """
SELECT count(*) AS n_docs,
       sum(strlen(text)) AS total_bytes,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources,
       round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                   / count(*), 9) AS dup_rate,
       CAST(percentile_disc(0.5) WITHIN GROUP
              (ORDER BY strlen(text)) AS BIGINT) AS p50_bytes,
       CAST(percentile_disc(0.9) WITHIN GROUP
              (ORDER BY strlen(text)) AS BIGINT) AS p90_bytes
FROM documents WHERE text IS NOT NULL
""",
        # replays the autodiscovery synth case rule
        "feed_discovery": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       '/rss/' || source || '.xml' AS feed_url, 'rss' AS kind,
       'Feed ' || lang AS title
FROM documents
WHERE doc_id % 3 = 0 AND source IS NOT NULL AND lang IS NOT NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR), '/atom/' || source || '.xml', 'atom', ''
FROM documents
WHERE doc_id % 3 = 1 AND source IS NOT NULL AND lang IS NOT NULL
""",
        # replays the directive case rule incl. the 'none' expansion and
        # the non-robots meta name that must NOT trip the gate
        "meta_robots_gate": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       doc_id % 5 IN (0, 2) AS noindex,
       doc_id % 5 IN (0, 2) AS nofollow,
       doc_id % 5 = 4 AS noarchive,
       doc_id % 5 = 4 AS nosnippet,
       doc_id % 5 = 1 AS noai,
       FALSE AS noimageai,
       doc_id % 5 IN (3, 4) AS train_ok
FROM documents
""",
        # melt replay from the same VALUES lattice as table_extract
        "table_records": """
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, 0 AS table_idx, g.r AS row_idx,
       CASE g.c WHEN 0 THEN 'Name' WHEN 1 THEN 'Lang'
                ELSE 'Chars' END AS col_name,
       CASE g.r * 3 + g.c
         WHEN 3 THEN d.source WHEN 4 THEN d.lang
         WHEN 5 THEN CAST(d.n_chars AS VARCHAR)
         WHEN 6 THEN 'w ' || trim(substr(d.text, 1, 12))
         WHEN 7 THEN upper(d.lang)
         ELSE CAST(d.doc_id % 97 AS VARCHAR) END AS value
FROM documents d,
     (VALUES (1,0),(1,1),(1,2),(2,0),(2,1),(2,2)) g(r,c)
WHERE d.text IS NOT NULL AND d.n_chars >= 50
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 0, 'c0', 'x & ' || doc_id
FROM documents
WHERE doc_id % 5 = 0 AND text IS NOT NULL AND n_chars >= 50
""",
        # replays the outlink synth rule + RFC 3986 resolution arithmetic
        # (merge against /sec/<m7>/page.html) — independent of the kernel
        "link_extract": """
WITH links AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'https://hub.example/t/' || (doc_id % 50) AS target_url,
         'hub ' || lang AS anchor_text, FALSE AS nofollow
  FROM documents WHERE text IS NOT NULL AND n_chars >= 50
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR),
         'https://' || source || '.example.org/sec/' || (doc_id % 7)
           || '/item' || (doc_id % 10) || '.html',
         'rel ' || source, FALSE
  FROM documents WHERE text IS NOT NULL AND n_chars >= 50
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR),
         'https://' || source || '.example.org/sec/top',
         'A & B ' || source, TRUE
  FROM documents WHERE text IS NOT NULL AND n_chars >= 50
)
SELECT * FROM links
""",
        # same replayed link relation, then the plain SQL aggregation
        "anchor_index": """
WITH links AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'https://hub.example/t/' || (doc_id % 50) AS target_url,
         'hub ' || lang AS anchor_text, FALSE AS nofollow
  FROM documents WHERE text IS NOT NULL AND n_chars >= 50
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR),
         'https://' || source || '.example.org/sec/' || (doc_id % 7)
           || '/item' || (doc_id % 10) || '.html',
         'rel ' || source, FALSE
  FROM documents WHERE text IS NOT NULL AND n_chars >= 50
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR),
         'https://' || source || '.example.org/sec/top',
         'A & B ' || source, TRUE
  FROM documents WHERE text IS NOT NULL AND n_chars >= 50
)
SELECT target_url, count(*) AS n_links,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(CASE WHEN nofollow THEN 1 ELSE 0 END) AS BIGINT) AS n_nofollow,
       string_agg(DISTINCT anchor_text, '|' ORDER BY anchor_text)
         AS anchors_joined
FROM links GROUP BY target_url
""",
        # replays the synth cell grid from a VALUES lattice — independent
        # of the kernel's tokenizer/DOM walk
        "table_extract": """
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, 0 AS table_idx, g.r AS row_idx,
       g.c AS col_idx, g.r = 0 AS is_header,
       CASE g.r * 3 + g.c
         WHEN 0 THEN 'Name' WHEN 1 THEN 'Lang' WHEN 2 THEN 'Chars'
         WHEN 3 THEN d.source WHEN 4 THEN d.lang
         WHEN 5 THEN CAST(d.n_chars AS VARCHAR)
         WHEN 6 THEN 'w ' || trim(substr(d.text, 1, 12))
         WHEN 7 THEN upper(d.lang)
         ELSE CAST(d.doc_id % 97 AS VARCHAR) END AS cell_text
FROM documents d,
     (VALUES (0,0),(0,1),(0,2),(1,0),(1,1),(1,2),(2,0),(2,1),(2,2)) g(r,c)
WHERE d.text IS NOT NULL AND d.n_chars >= 50
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 0, 0, FALSE, 'x & ' || doc_id
FROM documents
WHERE doc_id % 5 = 0 AND text IS NOT NULL AND n_chars >= 50
""",
        # replays the documented metadata precedence contract from the
        # synth case rule (doc_id%4) — independent of the kernel's parse
        "html_metadata": """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'OG & ' || source
         WHEN 1 THEN 'LD ' || source
         WHEN 2 THEN 'T ' || doc_id || ' © ' || trim(substr(text, 1, 24))
         ELSE 'H ' || source || ' end' END AS headline,
       CASE doc_id % 4
         WHEN 0 THEN 'M ' || source
         WHEN 1 THEN 'A ' || lang ELSE '' END AS author,
       CASE doc_id % 4
         WHEN 0 THEN 'D ' || lang
         WHEN 2 THEN 'd ' || lang ELSE '' END AS description,
       CASE doc_id % 4
         WHEN 0 THEN 'https://' || source || '.example.org/p/' || doc_id
         ELSE '' END AS canonical_url,
       CASE doc_id % 4
         WHEN 0 THEN 'https://img.example/' || doc_id || '.jpg'
         ELSE '' END AS image,
       CASE doc_id % 4
         WHEN 0 THEN '2025-03-01T00:00:00Z'
         WHEN 1 THEN '2025-02-1' || (doc_id % 9)
         WHEN 2 THEN '2024-12-2' || (doc_id % 2)
         ELSE '' END AS published,
       CASE doc_id % 4
         WHEN 2 THEN 'T ' || doc_id || ' © ' || trim(substr(text, 1, 24))
         WHEN 3 THEN ''
         ELSE 'T ' || doc_id END AS title,
       CASE doc_id % 4 WHEN 0 THEN 5 WHEN 2 THEN 2 ELSE 0 END AS n_meta_tags
FROM documents WHERE text IS NOT NULL AND n_chars >= 50
""",
        "warc_extract": """
SELECT 'https://' || source || '.example.org/a/' || CAST(doc_id AS VARCHAR)
         AS url,
       '<html><body><p>' || text || '</p></body></html>' AS page_html
FROM documents WHERE text IS NOT NULL
""",
        "windowed_counts": """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start_s,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
""",
        "crawl_frontier": r"""
WITH u AS (
  SELECT doc_id, trim(CASE
    WHEN doc_id % 11 = 0 THEN 'https://spam.example.com/p/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 13 = 0 THEN 'https://' || source || '.example.org/casino/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 7 = 0 THEN 'HTTP://' || upper(source) || '.Example.COM:80/A/' || CAST(doc_id AS VARCHAR) || '?utm_source=rss&z=9&a=1#top'
    WHEN doc_id % 3 = 0 THEN 'https://' || source || '.example.org/a/' || CAST(doc_id AS VARCHAR) || '?utm_campaign=x&b=2'
    WHEN doc_id % 5 = 0 THEN 'ftp://files.example.org/' || CAST(doc_id AS VARCHAR)
    ELSE 'https://' || source || '.example.org/a/' || CAST(doc_id AS VARCHAR)
  END) AS s
  FROM documents
),
parts AS (
  SELECT doc_id, s, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(host_raw, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(host_raw, ':443$', '')
         ELSE host_raw END AS host,
    coalesce(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), '') AS after
  FROM (SELECT doc_id, s,
          lower(coalesce(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
          lower(coalesce(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')) AS host_raw
        FROM u)
),
canon AS (
  SELECT doc_id,
    CASE WHEN scheme = '' THEN s
         ELSE scheme || '://' || host
           || (CASE WHEN coalesce(regexp_extract(after, '^([^?]*)', 1), '') = '' THEN '/'
                    ELSE regexp_extract(after, '^([^?]*)', 1) END)
           || (CASE WHEN q = '' THEN '' ELSE '?' || q END) END AS canon_url
  FROM (SELECT *, coalesce(array_to_string(list_sort(list_filter(
          string_split(coalesce(regexp_extract(after, '\?(.*)$', 1), ''), '&'),
          p -> p != '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|mc_cid|mc_eid|ref)='))), '&'), '') AS q
        FROM parts)
),
flagged AS (
  SELECT canon_url,
    lower(coalesce(regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')) AS chost
  FROM canon
)
SELECT canon_url, CAST(count(*) AS BIGINT) AS n_listings
FROM flagged
WHERE regexp_matches(lower(canon_url), '^https?://')
  AND NOT (chost = 'spam.example.com' OR chost LIKE '%.spam.example.com'
           OR chost = 'lnk.example' OR chost LIKE '%.lnk.example')
  AND NOT (lower(canon_url) LIKE '%casino%' OR lower(canon_url) LIKE '%xxx%'
           OR lower(canon_url) LIKE '%porn%' OR lower(canon_url) LIKE '%viagra%')
  AND length(canon_url) <= 2048
GROUP BY canon_url
""",
        "salted_join": """
SELECT d.source, d.doc_id, s.src_docs, s.src_chars
FROM documents d
JOIN (SELECT source, CAST(count(*) AS BIGINT) AS src_docs,
             CAST(sum(n_chars) AS BIGINT) AS src_chars
      FROM documents GROUP BY source) s USING (source)
""",
        "robots_filter": """
SELECT doc_id,
  CASE WHEN doc_id % 11 = 0
         THEN 'https://norobots.example.net/a/' || CAST(doc_id AS VARCHAR)
       WHEN doc_id % 7 = 0
         THEN 'https://' || source || '.example.org/private/' || CAST(doc_id AS VARCHAR)
       WHEN doc_id % 5 = 0
         THEN 'https://' || source || '.example.org/a/ok' || CAST(doc_id AS VARCHAR)
       ELSE 'https://' || source || '.example.org/a/' || CAST(doc_id AS VARCHAR)
  END AS url,
  -- no-robots domain fails open; newsbot group has no /private rule so
  -- /private is allowed for it; Allow /a/ok outranks Disallow /a/;
  -- everything else under /a/ is denied
  (doc_id % 11 = 0 OR doc_id % 7 = 0 OR doc_id % 5 = 0) AS allowed
FROM documents
""",
        "lm_score": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
),
uni AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(w) AS w1 FROM toks)
  WHERE w1 != '' GROUP BY w1
),
grams AS (
  SELECT doc_id, i AS pos, w[i + 1] AS w1, w[i + 2] AS w2
  FROM toks, UNNEST(generate_series(0, len(w) - 2)) AS t(i)
  WHERE len(w) >= 2
),
bi AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM grams GROUP BY w1, w2
),
v AS (SELECT count(*) AS vs FROM uni),
scored AS (
  SELECT g.doc_id, g.pos,
         ln((coalesce(b.c12, 0) + 1.0)
            / (coalesce(u.c1, 0) + (SELECT vs FROM v))) AS logp
  FROM grams g
  LEFT JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
  LEFT JOIN uni u ON g.w1 = u.w1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(list_aggregate(list(logp ORDER BY pos), 'sum') / count(*), 6)
         AS avg_logp
FROM scored GROUP BY doc_id
""",
        "bm25_search": _bm25_sql(["spark", "merge", "window"], top_n=20),
        "bloom_anti_join": """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/a/' || CAST(doc_id AS VARCHAR)
           AS url
  FROM documents
)
SELECT doc_id, url FROM u
WHERE url NOT IN (SELECT url FROM u WHERE doc_id % 3 = 0)
""",
        "kmeans_assign": _kmeans_sql(k=8, iters=2),
        "frequent_ngrams": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, array_to_string(w[i + 1:i + 3], ' ') AS ngram
  FROM toks, UNNEST(generate_series(0, len(w) - 3)) AS t(i)
  WHERE len(w) >= 3
),
pd AS (
  SELECT ngram, doc_id, CAST(count(*) AS BIGINT) AS occ
  FROM g GROUP BY ngram, doc_id
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(occ) AS BIGINT) AS n_occurrences
FROM pd GROUP BY ngram HAVING count(*) >= 5
""",
        "fetch_schedule": """
WITH f AS (
  SELECT 'https://' || source || '.example.org/p/' || CAST(doc_id AS VARCHAR)
           AS url,
         source || '.example.org' AS domain
  FROM documents
)
SELECT url, domain,
       CAST(floor((row_number() OVER (PARTITION BY domain ORDER BY url) - 1)
                  / 2) AS INTEGER) AS wave
FROM f
""",
    }


def _dlist(vec) -> str:
    """DuckDB DOUBLE[] literal from a float sequence (repr = shortest
    round-trip decimal, so the SQL constant is the exact same double)."""
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"


# testdata embeddings dimensionality, shared by the Spark queries and the
# generated oracles (kmeans init, LSH planes, IVF centroids)
_EMB_DIM = 64


_COS6 = ("round(list_dot_product({a}, {b}) / "
         "(sqrt(list_dot_product({a}, {a})) * "
         "sqrt(list_dot_product({b}, {b}))), 6)")


def _jl_sql(k: int = 16, seed: int = 7) -> str:
    """Mirror of q_jl_projection: the same seeded Gaussian planes (scaled
    1/sqrt(k)) embedded as literals; one list_dot_product per output
    dim."""
    import numpy as np
    from corpus_lab.operators.similarity import hyperplanes
    planes = hyperplanes(64, k, seed, dtype=np.float64) / np.sqrt(float(k))
    rows = ",\n    ".join(f"({j}, {_dlist(planes[j])})" for j in range(k))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pl(dim, p) AS (VALUES
    {rows})
SELECT e.vec_id, pl.dim, round(list_dot_product(e.v, pl.p), 6) AS value
FROM e CROSS JOIN pl
"""


def _lsh_planes_cte(n_planes: int = 8, seed: int = 42) -> str:
    """``pl(j, p)`` VALUES CTE with the same seeded hyperplanes
    similarity.hyperplanes(64, n_planes, seed, dtype=float64) produces."""
    import numpy as np
    from corpus_lab.operators.similarity import hyperplanes
    planes = hyperplanes(64, n_planes, seed, dtype=np.float64)
    rows = ",\n    ".join(f"({j}, {_dlist(planes[j])})"
                          for j in range(n_planes))
    return f"pl(j, p) AS (VALUES\n    {rows})"


_SIG_CTE = """
sig AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_dot_product(e.v, pl.p) > 0
                       THEN (1 << pl.j) ELSE 0 END) AS INT) AS bucket
  FROM e CROSS JOIN pl GROUP BY e.vec_id
)"""


def _ann_lsh_sql() -> str:
    """Mirror of q_ann_lsh_topk: sign-LSH signatures, base bucket of the
    vec_id=0 query, 4 multiprobe flips on the smallest-|margin| planes,
    bucket-pruned cosine top-10."""
    cos = _COS6.format(a="cand.v", b="q.qv")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_lsh_planes_cte()},{_SIG_CTE},
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
qm AS (SELECT pl.j, list_dot_product(q.qv, pl.p) AS d FROM pl, q),
base AS (SELECT CAST(SUM(CASE WHEN d > 0 THEN (1 << j) ELSE 0 END) AS INT) AS b
         FROM qm),
flips AS (SELECT j FROM qm ORDER BY abs(d), j LIMIT 4),
probes AS (SELECT b AS bucket FROM base
           UNION ALL SELECT xor(b, 1 << j) FROM base, flips),
cand AS (SELECT e.vec_id, e.v FROM e JOIN sig USING (vec_id)
         WHERE sig.bucket IN (SELECT bucket FROM probes))
SELECT cand.vec_id, {cos} AS cosine
FROM cand, q
ORDER BY cosine DESC, cand.vec_id
LIMIT 10
"""


def _ann_ivf_sql() -> str:
    """Mirror of q_ann_ivf_topk: argmax-dot cell assignment against the
    pinned centroids, 6 nearest-centroid probe cells, cosine top-10.
    Normalizations cancel out of every ordering, so plain dot products
    reproduce the production argmax/argsort exactly."""
    from corpus_lab.operators.similarity import pinned_centroids
    cents = pinned_centroids(64, 16)
    rows = ",\n    ".join(f"({c}, {_dlist(cents[c])})" for c in range(16))
    cos = _COS6.format(a="cand.v", b="q.qv")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent(cell, cv) AS (VALUES
    {rows}),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
scored AS (SELECT e.vec_id, c.cell, list_dot_product(e.v, c.cv) AS d
           FROM e CROSS JOIN cent c),
assign AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d DESC, cell) AS rn
             FROM scored) WHERE rn = 1),
probes AS (SELECT c.cell FROM cent c, q
           ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell LIMIT 6),
cand AS (SELECT e.vec_id, e.v FROM e JOIN assign USING (vec_id)
         WHERE assign.cell IN (SELECT cell FROM probes))
SELECT cand.vec_id, {cos} AS cosine
FROM cand, q
ORDER BY cosine DESC, cand.vec_id
LIMIT 10
"""


def _emb_lsh_pairs_sql() -> str:
    """Mirror of q_embedding_near_dup_lsh: bucket equi-join + within-bucket
    cosine verify at threshold 0.5."""
    cos = _COS6.format(a="x.v", b="y.v")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_lsh_planes_cte()},{_SIG_CTE},
b AS (SELECT e.vec_id, e.v, s.bucket FROM e JOIN sig s USING (vec_id))
SELECT x.vec_id AS a, y.vec_id AS b, {cos} AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE {cos} >= 0.5
"""


def _multimodal_sql() -> str:
    """Re-derive the decode-stat integers from synth_media's synthesis
    rule: image = P6 PPM, w=4+i%5, h=3+i%4, pixel k = (7k+i)%256 (header
    is 11 bytes for 1-digit dims, 9+digits generally); audio = 16-bit PCM
    WAV, 64+i%64 mono frames at 8 kHz, 44-byte header; video = 800 opaque
    bytes, undecodable."""
    return """
WITH m AS (
  SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
         64 + doc_id % 64 AS n
  FROM documents
),
px AS (
  -- generate_series cannot be laterally correlated in DuckDB: use the
  -- static max pixel-count range (w<=8, h<=6 -> 3wh<=144) and filter
  SELECT m.i, CAST(SUM((t.k * 7 + m.i) % 256) AS BIGINT) AS pxs
  FROM m, generate_series(0, 143) AS t(k)
  WHERE m.i % 3 = 0 AND t.k < 3 * m.w * m.h
  GROUP BY m.i
)
SELECT media_id, kind,
  CAST(CASE WHEN m.i % 3 = 0
            THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                 + 3 * w * h
            WHEN m.i % 3 = 1 THEN 44 + 2 * n
            ELSE 800 END AS BIGINT) AS n_bytes,
  (m.i % 3 <> 2) AS decoded,
  CAST(CASE WHEN m.i % 3 = 0 THEN w ELSE -1 END AS INTEGER) AS width,
  CAST(CASE WHEN m.i % 3 = 0 THEN h ELSE -1 END AS INTEGER) AS height,
  coalesce(px.pxs, -1) AS px_sum,
  CAST(CASE WHEN m.i % 3 = 1 THEN n ELSE -1 END AS INTEGER) AS n_samples,
  CAST(CASE WHEN m.i % 3 = 1 THEN 8000 ELSE -1 END AS INTEGER) AS sample_rate,
  (m.i % 3 <> 2) AS decoded_f
FROM m LEFT JOIN px ON m.i = px.i
"""


def _lang_id_sql() -> str:
    """Generate the argmax CASE mirroring text_analysis.lang_id's fixed
    iteration order (en, de, fr, es; strict > to beat the incumbent)."""
    markers = {
        "en": r"\b(the|and|of|to|in|is|that|for|with|was)\b",
        "de": r"\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b",
        "fr": r"\b(le|la|les|et|est|une|des|que|pour|dans)\b",
        "es": r"\b(el|la|los|las|y|es|una|que|por|con)\b",
    }
    hit = {k: f"len(regexp_extract_all(lower(text), '{v}'))" for k, v in markers.items()}
    # sequential fold: best = 'und', best_h = 0; for each lang in order, if h > best_h -> lang
    expr_lang = "'und'"
    expr_hits = "0"
    for lang in markers:
        h = hit[lang]
        expr_lang = f"CASE WHEN {h} > ({expr_hits}) THEN '{lang}' ELSE {expr_lang} END"
        expr_hits = f"CASE WHEN {h} > ({expr_hits}) THEN {h} ELSE {expr_hits} END"
    return f"SELECT doc_id, {expr_lang} AS pred_lang FROM documents"


def _quality_sql() -> str:
    return """
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS toks,
         CAST(len(regexp_extract_all(lower(text),
              '\\b(the|and|of|to|in|is|that|for|with|was)\\b')) AS DOUBLE) AS stop_hits
  FROM documents WHERE length(trim(text)) > 0
),
r AS (
  SELECT doc_id, toks,
         CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN toks > 0 THEN n_alpha / toks ELSE 0.0 END AS mean_word_len,
         CASE WHEN toks > 0 THEN stop_hits / toks ELSE 0.0 END AS stop_ratio
  FROM f
)
SELECT doc_id, CAST(toks AS BIGINT) AS n_tokens,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(stop_ratio, 6) AS stop_ratio,
       round(0.4 * alpha_ratio
             + 0.2 * least(stop_ratio * 4.0, 1.0)
             + 0.2 * (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                           THEN 1.0 ELSE 0.0 END)
             + 0.2 * (1 - least(digit_ratio + punct_ratio, 1.0)), 6) AS quality_score
FROM r
"""


def _bm25_sql(query_terms: list[str], top_n: int,
              k1: float = 1.2, b: float = 0.75) -> str:
    """Mirror of q_bm25_search: identical parenthesization and Python-
    computed double literals (repr round-trips the exact doubles Spark's
    F.lit constants hold), term-ordered contribution fold."""
    terms = sorted({t.lower() for t in query_terms if t})
    in_list = ", ".join(f"'{t}'" for t in terms)
    k1p1, one_m_b = repr(k1 + 1.0), repr(1.0 - b)
    return f"""
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     t -> t != '') AS w
  FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, len(w) AS dl FROM docs),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
post AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(w) AS term FROM docs)
  WHERE term IN ({in_list})
  GROUP BY doc_id, term
),
dict AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
scored AS (
  SELECT p.doc_id, p.term,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * (CAST(p.tf AS DOUBLE) * {k1p1})
           / (CAST(p.tf AS DOUBLE)
              + {k1!r} * ({one_m_b} + {b!r} * CAST(l.dl AS DOUBLE) / s.avgdl))
           AS c
  FROM post p JOIN dict d USING (term) JOIN dl l USING (doc_id), stats s
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
       round(list_aggregate(list(c ORDER BY term), 'sum'), 6) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {top_n}
"""


def _hll_sql(p: int = 8, group: str = "source") -> str:
    """Mirror of operators/sketch.py: 60-bit md5 hash, low-p-bit bucket,
    exact bin()-length rho, integer harmonic sum, single literal/integer
    division (the numerator literal is the SAME Python double Spark
    embeds), linear-counting branch below 2.5 m.  ``group`` also serves
    the streaming-merge query: max-merged per-batch registers equal the
    whole-corpus registers, so ONE estimator covers both paths."""
    from corpus_lab.operators.sketch import hll_alpha
    m = 1 << p
    kmax = 60 - p + 1
    num = repr(hll_alpha(m) * m * m * float(1 << kmax))
    source = group
    return f"""
WITH h AS (
  SELECT {source} AS source, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL
),
regs AS (
  SELECT source, h % {m} AS bucket,
         max(CASE WHEN (h >> {p}) = 0 THEN {kmax}
                  ELSE {kmax} - length(bin(h >> {p})) END) AS register
  FROM h GROUP BY source, h % {m}
),
agg AS (
  SELECT source,
         sum(1::BIGINT << ({kmax} - register)) AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY source
)
SELECT source AS {group},
       round(CASE WHEN raw <= {repr(2.5 * m)} AND v > 0
                  THEN {repr(float(m))} * ln({repr(float(m))} / v)
                  ELSE raw END, 6) AS n_est
FROM (SELECT source,
             {num} / CAST(s_present + ({m} - n_present)
                          * (1::BIGINT << {kmax}) AS DOUBLE) AS raw,
             CAST({m} - n_present AS DOUBLE) AS v
      FROM agg)
"""


_PR_LINK_EDGES = """
edges AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
)"""


def _kcore_sql(k: int = 3, rounds: int = 6,
               edges_sql: str = _PR_LINK_EDGES) -> str:
    """Mirror of operators/kcore.py: the undirected simple projection
    of ``edges(src, dst)``, then ``rounds`` unrolled bulk peels (degree
    -> drop-below-k -> induce), final induced degrees filtered to
    >= k.  Exact integer arithmetic throughout, so the unroll needs no
    rounding contract."""
    # AS MATERIALIZED: each CTE is referenced 2-3x by the next round;
    # DuckDB's default inlining would expand the unroll exponentially
    parts = ["WITH " + edges_sql.strip().removeprefix("WITH").strip() +
             """,
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst)"""]
    for r in range(rounds):
        parts.append(f"""
k{r} AS MATERIALIZED (SELECT node FROM (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{r} UNION ALL SELECT b AS node FROM e{r})
  GROUP BY node) WHERE deg >= {k}),
e{r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e
  JOIN k{r} x ON e.a = x.node JOIN k{r} y ON e.b = y.node)""")
    parts.append(f"""
SELECT node, CAST(deg AS BIGINT) AS degree FROM (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{rounds}
    UNION ALL SELECT b AS node FROM e{rounds})
  GROUP BY node) WHERE deg >= {k}""")
    return ",".join(parts[:1] + parts[1:-1]) + parts[-1]


def _pagerank_sql(iters: int = 3, damping: float = 0.85,
                  edges_sql: str = _PR_LINK_EDGES,
                  tail_sql: str | None = None) -> str:
    """Mirror of operators/pagerank.py: unrolled power iterations over
    any ``edges(src, dst)`` CTE (default: the synthesized link graph),
    dangling mass as a scalar subquery per iteration, identical double
    literals (repr round-trips the exact doubles Spark's F.lit holds)
    and operation order, 9-digit rounding.  ``tail_sql`` replaces the
    default final SELECT (it may reference ``r{iters}`` and any CTE the
    caller appended inside ``edges_sql``)."""
    omd, d = repr(1.0 - damping), repr(damping)
    parts = [edges_sql + """,
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
        FROM edges GROUP BY src),
base AS (SELECT node, deg FROM nodes LEFT JOIN deg ON node = src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, deg, 1.0 / (SELECT n FROM nn) AS rank FROM base)"""]
    for it in range(1, iters + 1):
        prev, cur = f"r{it - 1}", f"r{it}"
        parts.append(f"""
{cur} AS (
  SELECT b.node, b.deg,
         round({omd} / (SELECT n FROM nn)
               + {d} * (coalesce(c.c, 0.0)
                        + (SELECT coalesce(sum(rank), 0.0) FROM {prev}
                           WHERE deg IS NULL) / (SELECT n FROM nn)),
               9) AS rank
  FROM base b
  LEFT JOIN (SELECT e.dst, sum(r.rank / r.deg) AS c
             FROM {prev} r JOIN edges e ON r.node = e.src
             GROUP BY e.dst) c ON b.node = c.dst
)""")
    return ("WITH " + ",".join(parts)
            + "\n" + (tail_sql or f"SELECT node, rank FROM r{iters}"))


def _textrank_sql(iters: int = 3, damping: float = 0.85, k: int = 25,
                  min_len: int = 4) -> str:
    """Mirror of operators/textrank.py: window-2 co-occurrence pairs
    over the ``^[a-z]{min_len,}$``-filtered lowercase token sequence,
    both orientations, md5 63-bit word ids, then the pagerank unroll
    and a rank-desc/word-asc top-k joined back through the vocab."""
    edges_sql = f"""
toks AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> regexp_full_match(t, '[a-z]{{{min_len},}}')) AS w
  FROM documents WHERE text IS NOT NULL
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> {{'a': w[i], 'b': w[i + 1]}})) AS p
  FROM toks WHERE len(w) >= 2
),
ew AS (
  SELECT p.a AS w1, p.b AS w2 FROM pairs
  UNION ALL
  SELECT p.b AS w1, p.a AS w2 FROM pairs
),
vocab AS (
  SELECT DISTINCT w1 AS word,
         CAST('0x' || substr(md5(w1), 1, 15) AS BIGINT) AS wid
  FROM ew
),
edges AS (
  SELECT DISTINCT CAST('0x' || substr(md5(w1), 1, 15) AS BIGINT) AS src,
                  CAST('0x' || substr(md5(w2), 1, 15) AS BIGINT) AS dst
  FROM ew
)"""
    tail_sql = f"""SELECT v.word, r.rank
FROM r{iters} r JOIN vocab v ON r.node = v.wid
ORDER BY r.rank DESC, v.word
LIMIT {k}"""
    return _pagerank_sql(iters, damping, edges_sql=edges_sql,
                         tail_sql=tail_sql)


def _walks_sql(walk_len: int = 3, walks_per_node: int = 2,
               salt: str = "walk-v1") -> str:
    """Mirror of operators/walks.py over the synthesized link graph:
    sorted neighbor lists, unrolled steps, every choice the same
    ``md5(salt:start:w:step:cur)`` 63-bit draw mod out-degree."""
    ws = ", ".join(str(w) for w in range(walks_per_node))
    parts = [f"""
e AS (
  SELECT DISTINCT doc_id AS src, (doc_id * 31 + i * 97) % 1000 AS dst
  FROM documents, UNNEST(generate_series(1, doc_id % 4)) AS g(i)
  WHERE doc_id % 4 > 0
),
adj AS (SELECT src, list_sort(list(dst)) AS nbrs FROM e GROUP BY src),
f0 AS (
  SELECT src AS start, CAST(t.w AS INTEGER) AS w, src AS cur
  FROM adj, UNNEST([{ws}]) AS t(w)
)"""]
    for step in range(1, walk_len + 1):
        prev, cur = f"f{step - 1}", f"f{step}"
        draw = (f"CAST('0x' || substr(md5('{salt}:' || "
                f"CAST(start AS VARCHAR) || ':' || CAST(w AS VARCHAR) || "
                f"':{step}:' || CAST(f.cur AS VARCHAR)), 1, 15) AS BIGINT)")
        parts.append(f"""
{cur} AS (
  SELECT start, w,
         a.nbrs[1 + CAST({draw} % len(a.nbrs) AS INTEGER)] AS cur
  FROM {prev} f JOIN adj a ON f.cur = a.src
)""")
    tails = "\nUNION ALL ".join(
        f"SELECT start, w, CAST({s} AS INTEGER) AS step, cur AS node FROM f{s}"
        for s in range(walk_len + 1))
    return "WITH " + ",".join(parts) + "\n" + tails


def _kmeans_sql(k: int = 8, iters: int = 2) -> str:
    """Mirror of q_kmeans_assign: pinned init centroids embedded as
    DOUBLE[] literals, ``iters`` Lloyd iterations unrolled as CTE pairs
    (assign from centroids of generation g, update = 9-digit-rounded
    per-(cluster, dim) means).  The distance fold is dim-ORDERED (the
    exact double sequence Spark's ``aggregate`` fold adds) and rounded
    to 9; empty clusters drop out of the update CTE on both engines."""
    from corpus_lab.operators.clustering import pinned_init
    init = pinned_init(_EMB_DIM, k)
    rows = ",\n    ".join(f"({cid}, {_dlist(coords)})" for cid, coords in init)
    parts = [f"""
e AS (
  SELECT vec_id, i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS val
  FROM embeddings, UNNEST(generate_series(0, len(embedding) - 1)) AS t(i)
),
cl0 AS (SELECT j AS cluster, i AS dim, c[i + 1] AS cval
        FROM (VALUES
    {rows}) AS t(j, c),
       UNNEST(generate_series(0, {_EMB_DIM - 1})) AS g(i))"""]
    for it in range(1, iters + 1):
        prev, cur = f"cl{it - 1}", f"cl{it}"
        parts.append(f"""
d{it} AS (
  SELECT e.vec_id, c.cluster,
         round(list_aggregate(
             list((e.val - c.cval) * (e.val - c.cval) ORDER BY e.dim),
             'sum'), 9) AS dist
  FROM e JOIN {prev} c USING (dim)
  GROUP BY e.vec_id, c.cluster
),
a{it} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM d{it}) WHERE rn = 1
),
{cur} AS (
  SELECT a.cluster, e.dim, round(avg(e.val), 9) AS cval
  FROM e JOIN a{it} a USING (vec_id)
  GROUP BY a.cluster, e.dim
)""")
    final = iters + 1
    parts.append(f"""
d{final} AS (
  SELECT e.vec_id, c.cluster,
         round(list_aggregate(
             list((e.val - c.cval) * (e.val - c.cval) ORDER BY e.dim),
             'sum'), 9) AS dist
  FROM e JOIN cl{iters} c USING (dim)
  GROUP BY e.vec_id, c.cluster
)""")
    return ("WITH " + ",".join(parts) + f"""
SELECT vec_id, cluster, round(dist, 6) AS dist FROM (
  SELECT vec_id, cluster, dist,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist, cluster) AS rn
  FROM d{final}) WHERE rn = 1
""")
