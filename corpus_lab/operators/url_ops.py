"""URL canonicalization and URL-level corpus filtering (engine-new;
extends the reference's link handling, src/feeds/rss_feeds/mod.rs:160-164,
to the web-corpus prep stage every crawl pipeline needs).

Everything is built-in JVM column expressions (regexp_extract /
split / filter / array_sort / array_join) — whole-stage codegen, no
Python — and every regex is written in the RE2-compatible subset (no
lookaround, no backrefs) so the DuckDB oracle evaluates the *same*
pattern text.

At 100 TB these run as a codegen'd scalar stage fused into the scan —
no shuffle, no UDF round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from corpus_lab.kernel.urlgrammar import (
    AFTER_AUTH_PATTERN as _AFTER_AUTH,
    HOST_PATTERN as _HOST,
    SCHEME_PATTERN as _SCHEME,
)

# tracking parameters dropped by the canonicalizer (utm_* family + the
# usual click identifiers)
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|mc_cid|mc_eid|ref)="

# C4-style URL badword list (Raffel et al. 2020 filter their corpus on a
# blocklist of URL substrings; this is a deliberately small demo list)
URL_BADWORDS = ["casino", "xxx", "porn", "viagra"]

# registrable domains excluded outright (link farms, shorteners)
DOMAIN_BLOCKLIST = ["spam.example.com", "lnk.example"]

MAX_URL_LEN = 2048


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s)-style URL:

    - scheme and host lowercased, default ports (:80/:443) stripped
    - fragment dropped
    - tracking query params (``utm_*``, ``gclid``, ...) removed
    - remaining query params sorted (byte order) for a stable key
    - empty path normalized to ``/``

    A string with no ``scheme://`` prefix is returned trimmed but
    otherwise untouched (mirrors :func:`kernel.urls.url_domain`'s
    whole-link fallback for relative links).

    The result is the natural key for URL-level dedup: two crawls of
    ``HTTP://Ex.com/a?utm_source=x&b=1#frag`` and ``http://ex.com:80/a?b=1``
    both canonicalize to ``http://ex.com/a?b=1``.
    """
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, _SCHEME, 1))
    # default ports are scheme-specific: http on :443 (or https on :80) is
    # a DIFFERENT resource and must not collapse onto the portless form
    host_raw = F.lower(F.regexp_extract(u, _HOST, 1))
    host = (F.when(scheme == "http", F.regexp_replace(host_raw, r":80$", ""))
             .when(scheme == "https", F.regexp_replace(host_raw, r":443$", ""))
             .otherwise(host_raw))
    after = F.regexp_extract(u, _AFTER_AUTH, 1)          # path + ?query
    path = F.regexp_extract(after, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(after, r"\?(.*)$", 1)
    kept = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE)))
    qstr = F.array_join(kept, "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qstr == "", F.lit("")).otherwise(F.concat(F.lit("?"), qstr)))
    return F.when(scheme == "", u).otherwise(canon)


def url_filter_flags(url: Column) -> Column:
    """First matching drop reason for a (canonicalized) URL, or NULL to
    keep.  Reasons, in precedence order: ``scheme`` (not http/https),
    ``blocked_domain``, ``badword``, ``too_long``."""
    host = F.lower(F.regexp_extract(url, _HOST, 1))
    bad_domain = F.lit(False)
    for d in DOMAIN_BLOCKLIST:
        bad_domain = bad_domain | (host == d) | host.endswith("." + d)
    badword = F.lit(False)
    for w in URL_BADWORDS:
        badword = badword | F.lower(url).contains(w)
    return (
        F.when(~F.lower(url).rlike(r"^https?://"), F.lit("scheme"))
         .when(bad_domain, F.lit("blocked_domain"))
         .when(badword, F.lit("badword"))
         .when(F.length(url) > MAX_URL_LEN, F.lit("too_long"))
    )


def filter_urls(df: DataFrame, url_col: str = "url",
                keep_only: bool = False) -> DataFrame:
    """Canonicalize ``url_col`` and attach ``canon_url`` / ``keep`` /
    ``drop_reason``.  With ``keep_only`` the dropped rows are filtered
    out (the production shape); without it the flags survive for
    auditing (the oracle-checked shape)."""
    canon = canonicalize_url(F.col(url_col))
    out = (df.withColumn("canon_url", canon)
             .withColumn("drop_reason", url_filter_flags(F.col("canon_url")))
             .withColumn("keep", F.col("drop_reason").isNull()))
    return out.filter("keep").drop("drop_reason", "keep") if keep_only else out


def dedup_by_canonical_url(df: DataFrame, url_col: str = "url",
                           id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup: keep the lowest-id document per canonical URL
    (same min-struct partial-agg shape as text_dedup.dedup_chunks — one
    hash aggregation, map-side combine on hot URLs)."""
    canon = canonicalize_url(F.col(url_col)).alias("canon_url")
    return (df.select(canon, F.col(id_col))
              .groupBy("canon_url")
              .agg(F.min(id_col).alias(id_col)))


def fetch_schedule(frontier: DataFrame, url_col: str = "url",
                   domain_col: str = "domain",
                   per_wave: int = 1) -> DataFrame:
    """Politeness scheduling for the crawl frontier: round-robin fetch
    waves per domain, so no wave issues more than ``per_wave`` requests
    to the same host (the reference's daemon polls feeds sequentially
    per source — this is that per-host serialization, distributed).

    ``wave = (rank within domain) div per_wave``; URL order within a
    domain is lexicographic (deterministic).  A fetch executor processes
    wave 0 across ALL domains in parallel, then wave 1, ... — per-host
    concurrency is bounded by ``per_wave`` while cluster-wide
    parallelism stays |domains| x per_wave.

    Plan shape: one shuffle on the domain key + a per-domain sequential
    rank — linear per key, and a hot domain (the skew case) costs one
    task sorting its own URLs, which is exactly the work its politeness
    budget forces anyway.  Output adds ``wave`` (0-based int).
    """
    from pyspark.sql import Window
    w = Window.partitionBy(domain_col).orderBy(url_col)
    wave = F.floor((F.row_number().over(w) - 1) / per_wave).cast("int")
    return frontier.withColumn("wave", wave)


def url_trap_patterns(df: DataFrame, url_col: str = "url",
                      min_distinct: int = 10) -> DataFrame:
    """Crawl-trap template mining: ``(pattern, n_urls, n_distinct,
    is_trap)`` — URLs grouped by their PATH TEMPLATE (host + path with
    numeric segments classed ``<d>`` and digit-bearing segments
    ``<m>``), flagged when one template covers >= ``min_distinct``
    distinct URLs.

    Calendar pages, session ids, pagination, and faceted-search
    explosions all share one signature: a single path template
    generating unbounded distinct URLs (``/cal/2024/01/15/...`` forever
    — the classic spider trap).  Per-URL filters cannot see it; the
    TEMPLATE aggregate can, and the flagged patterns become frontier
    blocklist rules (compose with ``filter_urls`` /
    ``sitemap.crawl_frontier``).

    Scale shape: one projection (regexp host/path extraction + a
    ``transform`` over the split segments — all JVM exprs, no shuffle)
    then ONE hash aggregation keyed by template; map-side combine
    absorbs the hot templates (the templates ARE the skew, that is the
    point).  Distinct-URL counting rides the same agg as
    ``count_distinct`` — exact, because the flag is a blocklist rule,
    not a telemetry estimate (swap in the HLL sketch if approximate is
    acceptable at extreme cardinality).
    """
    u = F.lower(F.trim(F.col(url_col)))
    host = F.regexp_extract(u, _HOST, 1)
    after = F.regexp_extract(u, _AFTER_AUTH, 1)
    path = F.regexp_extract(after, r"^([^?]*)", 1)
    classes = F.expr(
        "array_join(transform(filter(split(_trap_path, '/'), "
        "s -> s != ''), s -> CASE WHEN s rlike '^[0-9]+$' THEN '<d>' "
        "WHEN s rlike '[0-9]' THEN '<m>' ELSE s END), '/')")
    pattern = F.concat(F.col("_trap_host"), F.lit("/"), classes)
    return (df.filter(u.rlike(r"^[a-z][a-z0-9+.-]*://"))
            .withColumn("_trap_host", host)
            .withColumn("_trap_path", path)
            .withColumn("_trap_url", u)
            .select(pattern.alias("pattern"), F.col("_trap_url"))
            .groupBy("pattern")
            .agg(F.count("*").alias("n_urls"),
                 F.count_distinct("_trap_url").alias("n_distinct"))
            .select("pattern",
                    F.col("n_urls").cast("long").alias("n_urls"),
                    F.col("n_distinct").cast("long").alias("n_distinct"),
                    (F.col("n_distinct") >= min_distinct).alias("is_trap")))


def retry_backoff_schedule(failures: DataFrame, base_secs: int = 60,
                           max_backoff_secs: int = 86_400,
                           max_retries: int = 8,
                           url_col: str = "url",
                           n_failures_col: str = "n_failures",
                           last_ts_col: str = "last_attempt_ts"
                           ) -> DataFrame:
    """Exponential-backoff refetch schedule for failed fetches: the
    crawl-ledger form of the reference's in-process retry loop (S2 —
    ``src/feeds/rss_feeds/mod.rs`` fetch-retry; in a batch engine the
    retry state is a RELATION, not a sleep).

    ``(url, n_failures, last_attempt_ts)`` ->
    ``(url, backoff_secs, next_attempt_ts, give_up)`` with
    ``backoff = min(base * 2^(n-1), max_backoff)`` (n >= 1) and
    ``give_up`` after ``max_retries`` — give-ups keep their capped
    next_attempt_ts so a downstream policy can still re-admit them on a
    slow cycle.  Pure codegen'd projection: shiftleft for the power of
    two (no float pow, exponent clamped to 40 so the int64 product can
    never overflow before the max_backoff cap applies), integer-second
    timestamp arithmetic, no shuffle."""
    staged = failures.select(
        F.col(url_col).alias("url"),
        F.least(F.greatest(F.col(n_failures_col).cast("int"), F.lit(1)),
                F.lit(40))
         .alias("_n"),
        F.col(n_failures_col).alias("_raw_n"),
        F.col(last_ts_col).cast("long").alias("_ts"))
    backoff = F.least(
        F.lit(int(base_secs)).cast("long")
        * F.expr("shiftleft(1L, _n - 1)"),
        F.lit(int(max_backoff_secs)).cast("long"))
    return staged.select(
        "url",
        backoff.alias("backoff_secs"),
        (F.col("_ts") + backoff).cast("timestamp")
        .alias("next_attempt_ts"),
        (F.col("_raw_n") > max_retries).alias("give_up"))
