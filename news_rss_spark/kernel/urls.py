"""URL domain extraction (reference parity: src/feeds/rss_feeds/mod.rs:162-164).

The reference does::

    let source = Url::parse(link)
        .map(|it| it.domain().map(|t| t.to_string()))
        .unwrap_or(Some(link.to_string()));

i.e. a successfully parsed absolute URL yields its domain (None for
IP-address hosts — ``Url::domain()`` returns None for IPs); a *failed* parse
falls back to the whole link string. Relative URLs fail Rust's ``Url::parse``
(RelativeUrlWithoutBase) and therefore fall back to the raw link.
"""

from __future__ import annotations

import re

# scheme per RFC 3986: ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_IPV4_RE = re.compile(r"^\d{1,3}(\.\d{1,3}){3}$")


def url_domain(link: str | None) -> str | None:
    """Return the registrable host of ``link``, mimicking rust-url semantics.

    - absolute URL with a named host  -> host (lowercased, port stripped)
    - absolute URL with an IP host    -> None  (Url::domain() is None for IPs)
    - relative / unparseable link     -> the link string itself (fallback)
    - None                            -> None
    """
    if link is None:
        return None
    s = link.strip()
    if not _SCHEME_RE.match(s):
        return s  # Url::parse fails (no scheme / relative) -> whole-link fallback
    rest = _SCHEME_RE.sub("", s, count=1)
    if not rest.startswith("//"):
        # non-special scheme without authority (e.g. mailto:) -> domain() is None
        return None
    authority = rest[2:]
    for stop in "/?#":
        idx = authority.find(stop)
        if idx != -1:
            authority = authority[:idx]
    # strip userinfo
    if "@" in authority:
        authority = authority.rsplit("@", 1)[1]
    # strip port (handle [ipv6]:port)
    if authority.startswith("["):
        return None  # ipv6 literal -> not a domain
    if ":" in authority:
        authority = authority.split(":", 1)[0]
    if not authority:
        return s  # e.g. "https://" -> parse error in rust-url -> fallback
    if _IPV4_RE.match(authority):
        return None
    return authority.lower()
