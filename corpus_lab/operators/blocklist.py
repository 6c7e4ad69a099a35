"""Phrase-blocklist scanning: one Aho-Corasick pass per document.

Training-data pipelines filter against large phrase lists — toxic/adult
word lists (the C4 "bad words" list has ~400 entries per language),
license boilerplate, benchmark canary strings.  Per-phrase ``contains``
is O(|text| * n_phrases) and regex alternation hits RE2 DFA-size cliffs
at tens of thousands of alternates; the Aho-Corasick automaton
(kernel/acmatch.py) matches ALL phrases in one O(|text|) pass.

Spark shape: the phrase list is driver-held and small (a dimension, like
the robots policies); the automaton is built once per executor from the
broadcast list (memoized on the phrase tuple) and applied inside ONE
Arrow-batched ``mapInPandas`` stage fused into the scan — no shuffle, no
join, output rows only for (doc, phrase) pairs that actually hit.

Matching contract (what the DuckDB oracle replays positionally): both
text and phrases are lowercased; every occurrence counts, INCLUDING
overlapping ones and phrases nested inside longer phrases.  Raw
substring semantics — no word-boundary magic (callers wanting
boundaries encode them into the phrase, e.g. ``" cash "``).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["blocklist_hits", "blocklist_verdict"]

_AUTOMATON_CACHE: dict = {}


def _automaton(phrases: tuple):
    """Per-executor memo: one automaton per distinct phrase tuple, built
    lazily inside the task (phrases ride the closure — serialized once
    per stage, the broadcast-dim pattern robots.py uses)."""
    aut = _AUTOMATON_CACHE.get(phrases)
    if aut is None:
        from corpus_lab.kernel.acmatch import AhoCorasick
        aut = AhoCorasick(phrases)
        _AUTOMATON_CACHE[phrases] = aut
    return aut


def blocklist_hits(df: DataFrame, phrases: Sequence[str],
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Exploded hit report: one row per (doc, phrase) with the number of
    occurrences (all occurrences — overlaps and nested phrases count) and
    the end offset of the first hit.  Docs/phrases with zero hits emit
    nothing, so output is hit-sized, not |docs| x |phrases|."""
    norm = tuple(sorted({p.lower() for p in phrases if p}))
    if not norm:
        raise ValueError("blocklist_hits: no non-empty phrases")
    schema = f"{id_col} string, phrase string, n_hits bigint, first_end int"

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        aut = _automaton(norm)
        pats = aut.patterns
        for pdf in batches:
            ids, hit_phrase, hit_n, hit_first = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                firsts: dict = {}
                counts: dict = {}
                for end, idx in aut.find_iter(str(text).lower()):
                    counts[idx] = counts.get(idx, 0) + 1
                    if idx not in firsts:
                        firsts[idx] = end
                for idx in sorted(counts):
                    ids.append(str(doc_id))
                    hit_phrase.append(pats[idx])
                    hit_n.append(counts[idx])
                    hit_first.append(firsts[idx])
            yield pd.DataFrame({
                id_col: pd.array(ids, dtype="string"),
                "phrase": pd.array(hit_phrase, dtype="string"),
                "n_hits": pd.array(hit_n, dtype="int64"),
                "first_end": pd.array(hit_first, dtype="int32"),
            })

    return (df.select(F.col(id_col).cast("string").alias(id_col), text_col)
            .mapInPandas(scan, schema=schema))


def blocklist_verdict(df: DataFrame, phrases: Sequence[str],
                      id_col: str = "doc_id", text_col: str = "text",
                      max_hits: int = 0) -> DataFrame:
    """Per-document gate: total hits across all phrases and a boolean
    ``blocked`` (total > max_hits).  Composed from the hit report by one
    map-side-combinable aggregation; docs with zero hits pass by
    anti-join absence (they never reach the agg) and are re-attached
    with blocked=false via a left join on the hit-sized relation."""
    hits = (blocklist_hits(df, phrases, id_col=id_col, text_col=text_col)
            .groupBy(id_col)
            .agg(F.sum("n_hits").alias("total_hits")))
    base = df.select(F.col(id_col).cast("string").alias(id_col))
    return (base.join(hits, on=id_col, how="left")
            .select(id_col,
                    F.coalesce("total_hits", F.lit(0)).alias("total_hits"),
                    (F.coalesce("total_hits", F.lit(0)) > max_hits)
                    .alias("blocked")))
