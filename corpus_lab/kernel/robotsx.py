"""robots.txt parsing + allow/deny evaluation (engine-new; the politeness
gate between crawl-frontier construction (sources/sitemap.py) and fetching
— the reference fetches a fixed registry of feeds it owns, a web-scale
crawl must honor the Robots Exclusion Protocol, RFC 9309).

Pure Python, from scratch, RFC 9309 semantics:

- groups of ``User-agent`` lines followed by ``Allow``/``Disallow`` rules;
  the agent chosen is the longest user-agent token that is a
  case-insensitive substring match, falling back to ``*``, and ALL groups
  carrying the winning token are merged (§2.2.1);
- rule matching is longest-match-wins over the URL path; on a length tie
  ``Allow`` wins; a missing/empty path rule matches nothing;
- ``*`` wildcards match any char sequence, a TRAILING ``$`` anchors the
  end (mid-pattern ``$`` is a literal);
- an unmatched URL is allowed; an unparseable/absent robots.txt allows
  everything (the standard fail-open posture for 4xx).

``Crawl-delay`` and ``Sitemap`` lines are surfaced as metadata (the
scheduler consumes the delay; sitemap URLs feed discovery back in).
"""

from __future__ import annotations

import re

from corpus_lab.kernel.urlgrammar import AFTER_AUTH_PATTERN

_AFTER_AUTH_RE = re.compile(AFTER_AUTH_PATTERN)


class _RuleMatcher:
    """Linear-time robots path matcher: ``*`` matches any run; ``$`` is an
    end anchor ONLY in trailing position (a mid-pattern ``$`` is a literal
    character — CGI/session paths contain them).

    Deliberately NOT a compiled regex: each ``*`` would become ``.*`` and a
    hostile robots.txt rule with many wildcards matched against long URL
    paths triggers polynomial re-backtracking, evaluated once per frontier
    URL.  Instead the pattern is split on ``*`` into literal segments and
    matched with a leftmost ``str.find`` walk — placing every middle
    segment at its earliest feasible position is optimal (leaves maximal
    room for the rest), so existence of ANY placement is decided in one
    O(len(path) * n_segments) pass with no backtracking.  Consecutive
    ``*`` collapse for free (empty segments are skipped)."""

    __slots__ = ("anchored", "core", "segs")

    def __init__(self, pattern: str) -> None:
        self.anchored = pattern.endswith("$")
        self.core = pattern[:-1] if self.anchored else pattern
        self.segs = self.core.split("*")

    def match(self, path: str) -> bool:
        segs = self.segs
        if not path.startswith(segs[0]):
            return False
        if len(segs) == 1:  # no wildcard: plain prefix (or exact if '$')
            return path == self.core if self.anchored else True
        pos = len(segs[0])
        for seg in segs[1:-1]:
            if seg:
                idx = path.find(seg, pos)
                if idx == -1:
                    return False
                pos = idx + len(seg)
        last = segs[-1]
        if self.anchored:
            return path.endswith(last) and len(path) - len(last) >= pos
        return (path.find(last, pos) != -1) if last else True


def _rule_regex(path_pattern: str) -> _RuleMatcher:
    """robots path pattern -> matcher exposing ``.match(path) -> bool``
    (regex-free; see :class:`_RuleMatcher` for the ReDoS rationale)."""
    return _RuleMatcher(path_pattern)


def parse_robots(text: str | None) -> dict:
    """robots.txt -> ``{groups: [{agents, rules: [(allow, pattern, len)]}],
    crawl_delay: {agent_token: float}, sitemaps: [url]}``.  Never raises."""
    groups: list[dict] = []
    crawl_delay: dict[str, float] = {}
    sitemaps: list[str] = []
    cur: dict | None = None
    seen_rule_after_agents = True
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if cur is None or seen_rule_after_agents:
                cur = {"agents": [], "rules": []}
                groups.append(cur)
                seen_rule_after_agents = False
            cur["agents"].append(value.lower())
        elif field in ("allow", "disallow"):
            seen_rule_after_agents = True
            if cur is None:
                continue  # rules before any user-agent: ignored
            if value:
                # regex compiled once at parse time — evaluation over a
                # frontier batch touches thousands of URLs per rule set
                cur["rules"].append((field == "allow", value, len(value),
                                     _rule_regex(value)))
            # empty Disallow == allow all (matches nothing): no rule
        elif field == "crawl-delay":
            seen_rule_after_agents = True
            if cur is not None:
                try:
                    d = float(value)
                except ValueError:
                    continue
                for a in cur["agents"]:
                    crawl_delay[a] = d
        elif field == "sitemap":
            if value:
                sitemaps.append(value)
    return {"groups": groups, "crawl_delay": crawl_delay,
            "sitemaps": sitemaps}


def _select_rules(robots: dict, user_agent: str) -> list | None:
    """Rules of the best-matching agent: the longest user-agent token that
    substring-matches wins, and ALL groups carrying that winning token are
    merged (RFC 9309 §2.2.1 — crawlers MUST combine same-agent groups);
    '*' groups (merged likewise) are the fallback."""
    ua = user_agent.lower()
    best_len = -1
    for g in robots["groups"]:
        for token in g["agents"]:
            if token == "*":
                best_len = max(best_len, 0)
            elif token in ua and len(token) > best_len:
                best_len = len(token)
    if best_len < 0:
        return None
    rules: list = []
    for g in robots["groups"]:
        for token in g["agents"]:
            if (best_len == 0 and token == "*") or (
                    best_len > 0 and token in ua and len(token) == best_len):
                rules.extend(g["rules"])
                break
    return rules


def is_allowed(robots: dict, path: str, user_agent: str = "*") -> bool:
    """Longest-match-wins allow/deny for a URL path (RFC 9309 §2.2.2);
    ties go to Allow; no match -> allowed."""
    rules = _select_rules(robots, user_agent)
    if rules is None:
        return True
    best_allow, best_len = True, -1
    for allow, _pattern, plen, rx in rules:
        if rx.match(path):
            if plen > best_len or (plen == best_len and allow):
                best_allow, best_len = allow, plen
    return best_allow


def url_path(url: str) -> str:
    """Path + query of an absolute URL ('' scheme -> the string itself),
    defaulting to '/' — the component robots rules match against.  A
    query-only URL (``https://ex.org?id=5``) gets the '/' path prepended
    so path-anchored rules (incl. ``Disallow: /``) apply to it."""
    m = _AFTER_AUTH_RE.match(url)
    if not m:
        return url or "/"
    p = m.group(1) or "/"
    return "/" + p if p.startswith("?") else p
