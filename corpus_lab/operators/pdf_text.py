"""PDF text extraction as an Arrow-batched stage (north-rule "PDF/layout
parse"; kernel in kernel/pdfx.py — real stream discovery, FlateDecode,
content-stream text operators).

Failures (encrypted, non-Flate filters, garbage) become ``status='skip'``
rows with the reason — the same log-and-continue contract as the HTML
kernel — so one bad document never kills a 100 TB job.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.kernel.pdfx import extract_pdf_text, synth_pdf

PDF_TEXT_DDL = "doc_id string, status string, error string, text string"


def extract_pdf_text_df(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, pdf bytes) -> (doc_id, status, error, text), one Arrow pass."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    text = extract_pdf_text(
                        bytes(payload) if payload is not None else None)
                    rows.append((str(did), "ok", None, text))
                except ValueError as exc:
                    rows.append((str(did), "skip", str(exc), None))
            yield pd.DataFrame(rows, columns=["doc_id", "status", "error",
                                              "text"])

    return df.select(F.col(id_col), F.col(payload_col)) \
             .mapInPandas(fn, PDF_TEXT_DDL)


def synth_pdf_documents(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Deterministic (id, payload) PDF table from a text column; every
    other document is really Flate-compressed so both decode paths run."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                compress = int(did) % 2 == 0
                rows.append((str(did),
                             synth_pdf([text or ""], compress=compress)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return df.select(F.col(id_col), F.col(text_col)) \
             .mapInPandas(fn, "doc_id string, payload binary")
