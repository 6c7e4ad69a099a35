#!/usr/bin/env python3
"""Derive the next round's 50-slot correctness window mechanically.

Policy (see the comment above ``__spark_entry__._R5_WINDOW``):

* Slots 1-8: the permanently reserved SURVEY §2 reference-parity core.
* Slots 9-50: never-driver-verified entries first (registry order),
  then oldest-verified-first — "oldest" = the highest round number in
  whose CORRECTNESS file the entry last appeared green, ascending, ties
  broken by registry order.

Run from the repo root at the start of a round::

    python3 scripts/next_window.py

and reorder ``queries()`` so its first 50 keys equal the printed list.
The script only reads CORRECTNESS_r*.json and the current registry; it
never mutates anything, so the next window is reproducible from the
repository state alone.
"""

import glob
import json
import os
import re
import sys

CORE = [
    "extract_pipeline", "rss_parse", "tag_strip", "date_parse_fallback",
    "dedup_exact", "anti_join_seen", "lineage_agg", "semantic_blocks",
]
WINDOW_SIZE = 50


def _green_by_round(repo_root):
    """name -> latest round number with a green row (rows+schema, no err)."""
    latest = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if (isinstance(row, dict) and row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match", True) and not row.get("err")):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def next_window(repo_root="."):
    sys.path.insert(0, repo_root)
    import __spark_entry__ as entry

    registry = list(entry.queries().keys())
    order = {name: i for i, name in enumerate(registry)}
    latest_green = _green_by_round(repo_root)

    window = [name for name in CORE if name in order]
    rest = [n for n in registry if n not in window]
    never = [n for n in rest if n not in latest_green]
    verified = sorted((n for n in rest if n in latest_green),
                      key=lambda n: (latest_green[n], order[n]))
    for n in never + verified:
        if len(window) >= WINDOW_SIZE:
            break
        window.append(n)
    return window, never


if __name__ == "__main__":
    win, never = next_window(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(f"# next window ({len(win)} slots; {len(never)} never-verified remain)")
    for name in win:
        print(name)
