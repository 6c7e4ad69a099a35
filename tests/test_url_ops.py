"""Unit tests for URL canonicalization / filtering / canonical-URL dedup
and the text-normalization operators."""

from pyspark.sql import functions as F

from corpus_lab.operators.text_analysis import (
    normalize_text,
    normalize_text_nfc,
)
from corpus_lab.operators.url_ops import (
    canonicalize_url,
    dedup_by_canonical_url,
    filter_urls,
)


def _canon(spark, url):
    df = spark.createDataFrame([(url,)], "url string")
    return df.select(canonicalize_url(F.col("url")).alias("c")).first()["c"]


class TestCanonicalizeUrl:
    def test_case_port_fragment_tracking(self, spark):
        assert _canon(
            spark, "HTTP://Ex.COM:80/a?utm_source=x&b=1#frag"
        ) == "http://ex.com/a?b=1"
        assert _canon(
            spark, "https://ex.com:443/path?z=1&a=2"
        ) == "https://ex.com/path?a=2&z=1"  # params sorted

    def test_empty_path_and_query_normalize(self, spark):
        assert _canon(spark, "https://ex.com") == "https://ex.com/"
        assert _canon(
            spark, "https://ex.com/x?utm_campaign=c&gclid=9"
        ) == "https://ex.com/x"

    def test_equivalent_crawl_urls_collide(self, spark):
        a = _canon(spark, "HTTP://Ex.com/a?utm_source=x&b=1#frag")
        b = _canon(spark, "http://ex.com:80/a?b=1")
        assert a == b

    def test_relative_url_falls_back_untouched(self, spark):
        assert _canon(spark, "  /world/news.html ") == "/world/news.html"

    def test_non_default_port_survives(self, spark):
        assert _canon(spark, "https://ex.com:8443/a") == "https://ex.com:8443/a"


class TestFilterUrls:
    def test_reasons_and_keep_flag(self, spark):
        rows = [
            (1, "https://ok.example.org/a"),
            (2, "ftp://files.example.org/x"),
            (3, "https://spam.example.com/promo"),
            (4, "https://sub.lnk.example/r/9"),
            (5, "https://ok.example.org/casino-night"),
            (6, "https://ok.example.org/b?" + "p=1&" * 600 + "q=2"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {r["doc_id"]: (r["keep"], r["drop_reason"])
               for r in filter_urls(df).collect()}
        assert got[1] == (True, None)
        assert got[2] == (False, "scheme")
        assert got[3] == (False, "blocked_domain")
        assert got[4] == (False, "blocked_domain")  # subdomain match
        assert got[5] == (False, "badword")
        assert got[6] == (False, "too_long")

    def test_keep_only_drops_rows_and_flags(self, spark):
        df = spark.createDataFrame(
            [(1, "https://ok.example.org/a"), (2, "ftp://x/y")],
            "doc_id long, url string")
        out = filter_urls(df, keep_only=True)
        assert out.columns == ["doc_id", "url", "canon_url"]
        assert [r["doc_id"] for r in out.collect()] == [1]


class TestDedupByCanonicalUrl:
    def test_lowest_id_wins_per_canonical_url(self, spark):
        df = spark.createDataFrame(
            [(7, "http://ex.com/a?b=1"),
             (3, "HTTP://EX.com:80/a?utm_source=s&b=1#f"),
             (9, "http://ex.com/other")],
            "doc_id long, url string")
        got = {r["canon_url"]: r["doc_id"]
               for r in dedup_by_canonical_url(df).collect()}
        assert got == {"http://ex.com/a?b=1": 3, "http://ex.com/other": 9}


class TestNormalizeText:
    def test_controls_stripped_whitespace_collapsed(self, spark):
        df = spark.createDataFrame(
            [(1, " a\x00b\tc\r\n  d\x7f ")], "doc_id long, text string")
        got = normalize_text(df).first()["norm_text"]
        assert got == "ab c d"

    def test_lowercase_option(self, spark):
        df = spark.createDataFrame([(1, "A  B")], "doc_id long, text string")
        assert normalize_text(df, lowercase=True).first()["norm_text"] == "a b"

    def test_nfc_arrow_stage(self, spark):
        # e + combining acute (NFD) must compose to U+00E9; None passes through
        df = spark.createDataFrame(
            [(1, "cafe\u0301"), (2, None)], "doc_id long, text string")
        got = {r["doc_id"]: r["norm_text"]
               for r in normalize_text_nfc(df).collect()}
        assert got[1] == "caf\u00e9"
        assert got[2] is None


class TestSchemeSpecificPorts:
    def test_default_port_strip_is_scheme_specific(self, spark):
        # matching scheme/port pairs collapse...
        assert _canon(spark, "http://ex.com:80/a") == "http://ex.com/a"
        assert _canon(spark, "https://ex.com:443/a") == "https://ex.com/a"
        # ...mismatched pairs are DIFFERENT resources and must survive
        assert _canon(spark, "http://ex.com:443/a") == "http://ex.com:443/a"
        assert _canon(spark, "https://ex.com:80/a") == "https://ex.com:80/a"
        assert _canon(spark, "ftp://ex.com:80/a") == "ftp://ex.com:80/a"


def test_fetch_schedule_politeness_waves(spark):
    from corpus_lab.operators.url_ops import fetch_schedule
    rows = [(f"https://{d}.com/{i}", f"{d}.com")
            for d in ("a", "b") for i in range(5)] + \
           [("https://c.com/0", "c.com")]
    df = spark.createDataFrame(rows, ["url", "domain"])
    out = fetch_schedule(df, per_wave=2).collect()
    by_wave_domain = {}
    for r in out:
        by_wave_domain.setdefault((r["wave"], r["domain"]), []).append(r["url"])
    # no (wave, domain) cell exceeds the politeness budget
    assert all(len(v) <= 2 for v in by_wave_domain.values())
    # each 5-url domain needs ceil(5/2) = 3 waves; singleton domain only 1
    waves_a = {r["wave"] for r in out if r["domain"] == "a.com"}
    assert waves_a == {0, 1, 2}
    assert {r["wave"] for r in out if r["domain"] == "c.com"} == {0}
    # deterministic: lexicographic url order within domain
    assert by_wave_domain[(0, "a.com")] == ["https://a.com/0", "https://a.com/1"]


# ------------------------------------------------- trap patterns

def test_trap_patterns_classification_and_flag(spark):
    from corpus_lab.operators.url_ops import url_trap_patterns
    urls = (
        # calendar trap: one template, 12 distinct urls
        [(i, f"https://ex.org/cal/2024/{i % 12 + 1}/event{i}")
         for i in range(12)]
        # static page fetched repeatedly: 1 distinct url, 8 hits
        + [(100 + i, "https://ex.org/about") for i in range(8)]
        # mixed-segment news slugs: 3 distinct
        + [(200 + i, f"https://ex.org/news/story-{i}") for i in range(3)]
        # non-URL garbage ignored
        + [(300, "not a url"), (301, None)]
    )
    df = spark.createDataFrame(urls, "doc_id bigint, url string")
    got = {r["pattern"]: (r["n_urls"], r["n_distinct"], r["is_trap"])
           for r in url_trap_patterns(df, min_distinct=10).collect()}
    assert got["ex.org/cal/<d>/<d>/<m>"] == (12, 12, True)
    assert got["ex.org/about"] == (8, 1, False)
    assert got["ex.org/news/<m>"] == (3, 3, False)
    assert len(got) == 3


def test_trap_patterns_case_query_and_empty_segments(spark):
    from corpus_lab.operators.url_ops import url_trap_patterns
    df = spark.createDataFrame(
        [(1, "HTTPS://EX.org//a//123/?page=9"),
         (2, "https://ex.org/a/456"),
         (3, "https://ex.org/a/789#frag")],
        "doc_id bigint, url string")
    got = {r["pattern"]: r["n_distinct"]
           for r in url_trap_patterns(df, min_distinct=3).collect()}
    # case folded, query stripped, empty segments dropped -> one pattern
    assert got == {"ex.org/a/<d>": 3}


class TestRetryBackoffSchedule:
    def test_exponential_and_cap(self, spark):
        from corpus_lab.operators.url_ops import retry_backoff_schedule
        rows = [("u1", 1, 1000), ("u2", 3, 1000), ("u3", 20, 1000),
                ("u0", 0, 1000), ("u9", 9, 1000)]
        df = spark.createDataFrame(
            rows, "url string, n_failures int, last_attempt_ts long")
        got = {r["url"]: (r["backoff_secs"],
                          int(r["next_attempt_ts"].timestamp()),
                          r["give_up"])
               for r in retry_backoff_schedule(df).collect()}
        assert got["u1"] == (60, 1060, False)
        assert got["u2"] == (240, 1240, False)       # 60 * 2^2
        assert got["u3"] == (86_400, 87_400, True)   # capped + give up
        assert got["u0"] == (60, 1060, False)        # n clamps to 1
        assert got["u9"] == (15_360, 16_360, True)   # 60*2^8, > max_retries

    def test_huge_failure_counts_never_overflow(self, spark):
        """Exponent is clamped at 40: n_failures of 58+, 63, 64+ and
        INT_MAX all land on the max_backoff cap with a sane positive
        next_attempt_ts (no int64 wrap, no shiftleft mod-64 wrap)."""
        from corpus_lab.operators.url_ops import retry_backoff_schedule
        rows = [("a", 58, 1000), ("b", 63, 1000), ("c", 64, 1000),
                ("d", 200, 1000), ("e", 2**31 - 1, 1000)]
        df = spark.createDataFrame(
            rows, "url string, n_failures int, last_attempt_ts long")
        for r in retry_backoff_schedule(df).collect():
            assert r["backoff_secs"] == 86_400
            assert int(r["next_attempt_ts"].timestamp()) == 87_400
            assert r["give_up"] is True
