"""Fused full-page extraction: body spans + head metadata + outlinks (+
table census) in ONE Arrow pass.

At 100 TB the page corpus is scan-dominated: running the body extractor,
the head-metadata parse, the outlink miner and the table walker as four
separate ``mapInPandas`` stages reads and ships the same HTML through the
Python boundary four times.  All four kernels share the byte-stream
tokenizer (``kernel/htmlx.tokenize``), so this stage tokenizes/builds the
DOM once per page and fans the products out together — one scan, one
Arrow round-trip, no shuffle.  (``BENCH/headx_scale_driver.py`` measures
the fusion win against the separate stages at 1M pages.)

Products per page:

- ``spans``   — the body extractor's ordered boilerplate-scored spans
  (``array<struct<kind,text,media_ref>>`` — exactly
  :func:`htmlx.extract_page_spans`);
- the metadata columns of :mod:`operators.metadata`;
- ``links``   — resolved outlinks with anchors
  (``array<struct<target_url,anchor_text,nofollow>>`` — exactly
  :func:`linkx.extract_links`);
- ``n_table_cells`` — the table walker's cell count (full grids via
  :mod:`operators.tables` when needed downstream);
- ``noindex``/``noai``/``train_ok`` — the meta-robots policy gate
  (:func:`metax.robots_directives`), so a corpus build filters
  publisher opt-outs in the SAME pass that extracted the page.

The per-kernel stages stay the right tool when only ONE product is
needed (column pruning then ships less through Arrow); the fused stage
wins whenever two or more are consumed — the common corpus-build case.
``tests/test_full_page.py`` locks fused == per-kernel product equality.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_rss_spark.kernel.htmlx import extract_page_spans, tokenize
from corpus_lab.kernel.linkx import extract_links
from corpus_lab.kernel.metax import (
    METADATA_FIELDS,
    extract_metadata,
    robots_directives,
)
from corpus_lab.kernel.tablex import extract_tables

BUNDLE_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string, text:string, media_ref:string>>, "
    "headline string, author string, description string, "
    "canonical_url string, image string, published string, title string, "
    "n_meta_tags int, "
    "links array<struct<target_url:string, anchor_text:string, "
    "nofollow:boolean>>, "
    "n_table_cells int, "
    "noindex boolean, noai boolean, train_ok boolean"
)

_SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string())]))
_LINK_TYPE = pa.list_(pa.struct([
    ("target_url", pa.string()), ("anchor_text", pa.string()),
    ("nofollow", pa.bool_())]))
_BUNDLE_ARROW_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("spans", _SPAN_TYPE)]
    + [(f, pa.int32() if f == "n_meta_tags" else pa.string())
       for f in METADATA_FIELDS]
    + [("links", _LINK_TYPE), ("n_table_cells", pa.int32()),
       ("noindex", pa.bool_()), ("noai", pa.bool_()),
       ("train_ok", pa.bool_())])


def extract_page_bundle_df(df: DataFrame, html_col: str = "html",
                           base_col: str = "base_url",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, html, base_url) -> one bundled row per page; see module
    docstring.  Never raises: un-parseable input degrades exactly like
    the individual kernels (empty spans/links, None metadata).

    ``mapInArrow`` with hand-built arrays, NOT ``mapInPandas``: the
    nested span/link structs through pandas object columns cost more
    than every kernel combined (measured 2.6x the SEPARATE stages at 1M
    pages before this; the same lesson as the extraction stage's
    ``_extract_arrow_batches``)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {n: batch.column(i)
                    for i, n in enumerate(batch.schema.names)}
            ids = cols[id_col].to_pylist()
            htmls = cols[html_col].to_pylist()
            bases = cols[base_col].to_pylist()
            spans_col, links_col, cells_col = [], [], []
            noindex_col, noai_col, train_col = [], [], []
            meta_cols: dict[str, list] = {f: [] for f in METADATA_FIELDS}
            for html, base in zip(htmls, bases):
                spans_col.append([
                    {"kind": k, "text": t, "media_ref": m}
                    for k, t, m in extract_page_spans(html or "")])
                # tokenize ONCE for the four token-walking kernels (the
                # body-span extractor keeps its fused streaming route —
                # no token list is ever materialized there); measured
                # 3 redundant tokenizer passes saved per page
                toks = tokenize(html) if html else []
                meta = extract_metadata(html, tokens=toks)
                for f in METADATA_FIELDS:
                    meta_cols[f].append(meta[f])
                links_col.append([
                    {"target_url": u, "anchor_text": a, "nofollow": nf}
                    for u, a, nf in extract_links(html, base or "",
                                                  tokens=toks)])
                cells_col.append(len(extract_tables(html, tokens=toks)))
                pol = robots_directives(html, tokens=toks)
                noindex_col.append(pol["noindex"])
                noai_col.append(pol["noai"])
                train_col.append(not (pol["noindex"] or pol["noai"]))
            arrays = [
                pa.array([str(i) if i is not None else None for i in ids],
                         type=pa.string()),
                pa.array(spans_col, type=_SPAN_TYPE),
            ] + [
                pa.array(meta_cols[f],
                         type=pa.int32() if f == "n_meta_tags"
                         else pa.string())
                for f in METADATA_FIELDS
            ] + [
                pa.array(links_col, type=_LINK_TYPE),
                pa.array(cells_col, type=pa.int32()),
                pa.array(noindex_col, type=pa.bool_()),
                pa.array(noai_col, type=pa.bool_()),
                pa.array(train_col, type=pa.bool_()),
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, schema=_BUNDLE_ARROW_SCHEMA)

    return df.select(F.col(id_col), F.col(html_col), F.col(base_col)) \
             .mapInArrow(fn, schema=BUNDLE_DDL)
