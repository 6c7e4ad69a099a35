"""HTML table extraction as an Arrow-batched stage.

``(id, html)`` -> one row per table cell ``(doc_id, table_idx, row_idx,
col_idx, is_header, cell_text)`` via
:func:`corpus_lab.kernel.tablex.extract_tables`.  Embarrassingly
parallel (no shuffle) — the fan-out is bounded by cells-per-page, so the
stage stays scan-shaped at 100 TB; downstream grouping shuffles only the
compact cell rows, never the page HTML.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corpus_lab.kernel.tablex import extract_tables

TABLES_DDL = ("doc_id string, table_idx int, row_idx int, col_idx int, "
              "is_header boolean, cell_text string")


def extract_tables_df(df: DataFrame, html_col: str = "html",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, html) -> flat cell grid, one Arrow pass, no shuffle."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, html in zip(pdf[id_col], pdf[html_col]):
                for cell in extract_tables(html):
                    rows.append((str(did),) + cell)
            yield pd.DataFrame(
                rows, columns=["doc_id", "table_idx", "row_idx", "col_idx",
                               "is_header", "cell_text"])

    return df.select(F.col(id_col), F.col(html_col)) \
             .mapInPandas(fn, TABLES_DDL)


def table_records(cells: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Header-keyed records from the cell grid: each DATA cell joined to
    its column's header-row name —
    ``(doc_id, table_idx, row_idx, col_name, value)`` in melted (long)
    form, the shape that pivots into typed columns or feeds entity
    extraction.  Headerless tables fall back to positional names
    ``c<col_idx>``.

    Plan: one equi-join of data cells against the (tiny per-table)
    header relation on ``(doc, table, col)`` — both sides come out of the
    same extraction, so at scale the join co-partitions on the doc key;
    no window, no explode."""
    headers = (cells.filter(F.col("is_header") & (F.col("row_idx") == 0))
               .select(F.col(id_col), "table_idx", "col_idx",
                       F.col("cell_text").alias("col_name")))
    data = cells.filter(~F.col("is_header"))
    joined = data.join(headers, on=[id_col, "table_idx", "col_idx"],
                       how="left")
    return joined.select(
        F.col(id_col), "table_idx", "row_idx",
        F.coalesce(F.col("col_name"),
                   F.concat(F.lit("c"), F.col("col_idx").cast("string")))
         .alias("col_name"),
        F.col("cell_text").alias("value"))
