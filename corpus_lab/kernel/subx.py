"""Subtitle / caption parsing (SRT + WebVTT) — from scratch.

Video documents in an interleaved corpus carry their text as caption
files; training pipelines mine those as TIME-ALIGNED spans (the video
counterpart of the page extractor's offset-anchored text spans — the
``offset`` axis is milliseconds instead of characters).  One parser
covers both common formats:

- SRT: blocks of ``<idx>\\n HH:MM:SS,mmm --> HH:MM:SS,mmm\\n text...``
  separated by blank lines;
- WebVTT: ``WEBVTT`` header, ``HH:MM:SS.mmm`` (dot) timestamps, hours
  optional, optional cue identifiers and ``-->``-line settings suffixes
  (``align:start``), NOTE/STYLE blocks skipped.

Contract (unit-locked, replayed by the ``subtitle_parse`` oracle):

- one record per cue: ``(cue_idx, start_ms, end_ms, text)`` in file
  order, ``cue_idx`` is the 0-based ORDINAL (SRT's own numbering is
  ignored — it is famously unreliable in the wild);
- cue text joins its lines with a single space and is
  whitespace-normalized; basic inline markup (``<i>``, ``<b>``,
  ``<c.class>``) is stripped with the body tokenizer's regex semantics;
- malformed blocks (bad timestamps) are skipped, never fatal;
  None/empty input yields no cues.
"""

from __future__ import annotations

import re

from news_rss_spark.kernel.htmlx import decode_entities
from corpus_lab.kernel.markup import _norm_text

__all__ = ["parse_subtitles"]

_TS_RE = re.compile(
    r"(?:(\d{1,3}):)?(\d{1,2}):(\d{2})[.,](\d{3})")
_CUE_LINE_RE = re.compile(
    r"^\s*((?:\d{1,3}:)?\d{1,2}:\d{2}[.,]\d{3})\s*-->\s*"
    r"((?:\d{1,3}:)?\d{1,2}:\d{2}[.,]\d{3})")
_TAG_RE = re.compile(r"<[^>]*>")


def _ts_ms(ts: str) -> int:
    m = _TS_RE.match(ts)
    h, mnt, s, ms = m.groups()
    return ((int(h or 0) * 60 + int(mnt)) * 60 + int(s)) * 1000 + int(ms)


def parse_subtitles(content: str | None) -> list[tuple[int, int, int, str]]:
    """``[(cue_idx, start_ms, end_ms, text), ...]`` — see module
    contract."""
    if not content:
        return []
    out: list[tuple[int, int, int, str]] = []
    lines = content.replace("\r\n", "\n").replace("\r", "\n").split("\n")
    i, n = 0, len(lines)
    skip_block = False
    while i < n:
        line = lines[i]
        if not line.strip():
            skip_block = False
            i += 1
            continue
        if skip_block:
            i += 1
            continue
        stripped = line.strip()
        if stripped.startswith(("WEBVTT", "NOTE", "STYLE", "REGION")):
            skip_block = stripped.startswith(("NOTE", "STYLE", "REGION"))
            i += 1
            continue
        m = _CUE_LINE_RE.match(line)
        if m is None:
            # SRT index line or VTT cue identifier: the NEXT line must be
            # the timestamp line, else this block is malformed -> skip it
            if i + 1 < n and _CUE_LINE_RE.match(lines[i + 1]):
                i += 1
                continue
            skip_block = True
            i += 1
            continue
        start, end = _ts_ms(m.group(1)), _ts_ms(m.group(2))
        i += 1
        text_lines: list[str] = []
        while i < n and lines[i].strip():
            text_lines.append(lines[i])
            i += 1
        text = _norm_text(decode_entities(
            _TAG_RE.sub("", " ".join(text_lines))))
        out.append((len(out), start, end, text))
    return out
