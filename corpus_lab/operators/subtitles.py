"""Subtitle/caption cue extraction as an Arrow-batched stage.

``(id, srt_or_vtt_text)`` -> one row per cue ``(doc_id, cue_idx,
start_ms, end_ms, text)`` via
:func:`corpus_lab.kernel.subx.parse_subtitles` — time-aligned text
spans for video documents, the millisecond-offset analog of the page
extractor's character-offset spans.  Scan-shaped, no shuffle; fan-out
bounded by cues-per-file.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.kernel.subx import parse_subtitles

CUES_DDL = ("doc_id string, cue_idx int, start_ms long, end_ms long, "
            "text string")


def parse_subtitles_df(df: DataFrame, content_col: str = "content",
                       id_col: str = "doc_id") -> DataFrame:
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, content in zip(pdf[id_col], pdf[content_col]):
                for cue in parse_subtitles(content):
                    rows.append((str(did),) + cue)
            yield pd.DataFrame(
                rows, columns=["doc_id", "cue_idx", "start_ms", "end_ms",
                               "text"])

    return df.select(F.col(id_col), F.col(content_col)) \
             .mapInPandas(fn, CUES_DDL)
