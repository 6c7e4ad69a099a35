"""Shared URL-authority grammar for the robots and URL operators.

One source of truth for operators/url_ops.py, operators/robots.py and
kernel/robotsx.py; RE2-safe, so the same pattern text runs in the DuckDB
oracles.
"""

SCHEME_PATTERN = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
HOST_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
AFTER_AUTH_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"
