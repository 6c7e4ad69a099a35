"""robots.txt kernel (RFC 9309 semantics) and the Spark frontier filter."""

from corpus_lab.kernel.robotsx import (
    is_allowed,
    parse_robots,
    url_path,
)
from corpus_lab.operators.robots import filter_by_robots

ROBOTS = """
# news site policy
User-agent: *
Disallow: /private/
Disallow: /tmp*.html
Allow: /private/press

User-agent: newsbot
User-agent: otherbot
Disallow: /a/
Allow: /a/ok
Crawl-delay: 2.5

Sitemap: https://ex.org/sitemap.xml
"""


class TestRobotsKernel:
    def test_group_selection_longest_agent_token(self):
        r = parse_robots(ROBOTS)
        # generic agent -> '*' group
        assert not is_allowed(r, "/private/x", "SomeCrawler/1.0")
        assert is_allowed(r, "/a/anything", "SomeCrawler/1.0")
        # newsbot matches its own group, NOT the '*' rules
        assert not is_allowed(r, "/a/anything", "Mozilla-compatible newsbot/2")
        assert is_allowed(r, "/private/x", "newsbot")  # '*' group not merged

    def test_longest_match_wins_and_allow_tie(self):
        r = parse_robots(ROBOTS)
        assert is_allowed(r, "/private/press-release", "x")  # Allow is longer
        assert not is_allowed(r, "/private/other", "x")
        assert is_allowed(r, "/a/ok-item", "newsbot")        # Allow /a/ok wins
        r2 = parse_robots("User-agent: *\nDisallow: /p\nAllow: /p")
        assert is_allowed(r2, "/page", "x")  # equal length: Allow wins

    def test_wildcard_and_anchor(self):
        r = parse_robots(ROBOTS)
        assert not is_allowed(r, "/tmp123.html", "x")
        assert not is_allowed(r, "/tmp123.html.txt", "x")  # prefix match w/o $
        assert is_allowed(r, "/tmpdir/a.txt", "x")  # '.html' never appears
        r2 = parse_robots("User-agent: *\nDisallow: /*.pdf$")
        assert not is_allowed(r2, "/docs/a.pdf", "x")
        assert is_allowed(r2, "/docs/a.pdfx", "x")

    def test_metadata_and_fail_open(self):
        r = parse_robots(ROBOTS)
        assert r["crawl_delay"] == {"newsbot": 2.5, "otherbot": 2.5}
        assert r["sitemaps"] == ["https://ex.org/sitemap.xml"]
        assert is_allowed(parse_robots(None), "/anything", "x")
        assert is_allowed(parse_robots("garbage no colons"), "/x", "x")
        # empty Disallow allows everything
        assert is_allowed(parse_robots("User-agent: *\nDisallow:"), "/x", "x")

    def test_url_path(self):
        assert url_path("https://Ex.org/a/b?q=1#f") == "/a/b?q=1"
        assert url_path("https://ex.org") == "/"
        assert url_path("/relative") == "/relative"


class TestRobotsSpark:
    def test_frontier_filter_broadcast_and_fail_open(self, spark):
        urls = spark.createDataFrame(
            [(1, "https://a.ex.org/private/x"),
             (2, "https://a.ex.org/public/x"),
             (3, "https://A.EX.ORG:443/private/press-kit"),
             (4, "https://norobots.ex.org/anything")],
            "id long, url string")
        robots = spark.createDataFrame(
            [("a.ex.org", ROBOTS)], "domain string, robots_txt string")
        got = {r["id"]: r["allowed"]
               for r in filter_by_robots(urls, robots).collect()}
        assert got == {1: False, 2: True, 3: True, 4: True}
        kept = filter_by_robots(urls, robots, keep_only=True)
        assert sorted(r["id"] for r in kept.collect()) == [2, 3, 4]
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # robots side broadcasts


class TestRfc9309Compliance:
    """Regressions for review findings: duplicate-group merge, query-only
    paths, and literal mid-pattern '$'."""

    def test_duplicate_agent_groups_are_merged(self):
        r = parse_robots(
            "User-agent: *\nDisallow: /a\n\nUser-agent: *\nDisallow: /b")
        assert not is_allowed(r, "/a/x", "anybot")
        assert not is_allowed(r, "/b/x", "anybot")  # second group counts
        r2 = parse_robots(
            "User-agent: newsbot\nDisallow: /a\n\n"
            "User-agent: newsbot\nDisallow: /b\n\n"
            "User-agent: *\nDisallow: /c")
        assert not is_allowed(r2, "/b/x", "newsbot")   # merged named groups
        assert is_allowed(r2, "/c/x", "newsbot")       # '*' NOT merged in

    def test_query_only_url_gets_root_path(self):
        assert url_path("https://ex.org?id=5") == "/?id=5"
        r = parse_robots("User-agent: *\nDisallow: /")
        assert not is_allowed(r, url_path("https://ex.org?id=5"), "x")

    def test_mid_pattern_dollar_is_literal(self):
        r = parse_robots("User-agent: *\nDisallow: /a$b")
        assert not is_allowed(r, "/a$b/c", "x")  # literal $ matches
        assert is_allowed(r, "/ab", "x")
        r2 = parse_robots("User-agent: *\nDisallow: /a$")
        assert not is_allowed(r2, "/a", "x")   # trailing $ still anchors
        assert is_allowed(r2, "/ab", "x")


class TestRobotsRobustness:
    def test_parse_and_evaluate_never_raise(self):
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.text(max_size=300), st.text(max_size=50))
        def check(txt, path):
            r = parse_robots(txt)
            assert isinstance(is_allowed(r, path, "anybot"), bool)

        check()


class TestRuleMatcherLinearTime:
    """The matcher is find-based, not regex: hostile wildcard-heavy rules
    must stay fast and keep regex-equivalent semantics."""

    def test_hostile_wildcard_rule_is_fast(self):
        import time
        # 40 wildcards against a long non-matching path: a compiled
        # '.*'-chain regex backtracks polynomially here; the walker is
        # one linear pass
        r = parse_robots("User-agent: *\nDisallow: /" + "a*" * 40 + "zzz")
        path = "/" + "a" * 5000 + "q"
        t0 = time.perf_counter()
        assert is_allowed(r, path, "x")  # no match -> allowed
        assert time.perf_counter() - t0 < 0.5

    def test_matcher_equals_regex_semantics(self):
        import re

        from hypothesis import given, settings, strategies as st

        from corpus_lab.kernel.robotsx import _rule_regex

        def reference_regex(pattern):
            out, last = [], len(pattern) - 1
            for i, ch in enumerate(pattern):
                if ch == "*":
                    out.append(".*")
                elif ch == "$" and i == last:
                    out.append("$")
                else:
                    out.append(re.escape(ch))
            return re.compile("^" + "".join(out))

        alphabet = st.sampled_from(list("ab/*.$x?"))

        @settings(max_examples=500, deadline=None)
        @given(st.text(alphabet, max_size=12), st.text(alphabet, max_size=24))
        def check(pattern, path):
            got = _rule_regex(pattern).match(path)
            want = bool(reference_regex(pattern).match(path))
            assert got == want, (pattern, path)

        check()

    def test_consecutive_wildcards_collapse(self):
        r = parse_robots("User-agent: *\nDisallow: /a***b")
        assert not is_allowed(r, "/aXXb", "x")
        assert not is_allowed(r, "/ab", "x")
        assert is_allowed(r, "/a", "x")


class TestUppercaseProducerForms:
    def test_uppercase_field_names_parse(self):
        r = parse_robots(
            "USER-AGENT: *\nDISALLOW: /private/\nALLOW: /private/ok\n"
            "CRAWL-DELAY: 1.5\nSITEMAP: https://ex.org/s.xml")
        assert not is_allowed(r, "/private/x", "anybot")
        assert is_allowed(r, "/private/ok-item", "anybot")
        assert r["crawl_delay"] == {"*": 1.5}
        assert r["sitemaps"] == ["https://ex.org/s.xml"]

    def test_uppercase_agent_token_matches_lowercased_ua(self):
        r = parse_robots("User-agent: NewsBot\nDisallow: /x")
        assert not is_allowed(r, "/x/1", "Mozilla newsbot/3")
