"""HTML table extraction (structured data mining) — from scratch.

Crawled news/reference pages carry a large share of their factual content
in ``<table>`` markup the body extractor's block scorer deliberately treats
as plain text; a training-data pipeline wants those as STRUCTURED rows
(entity tables, standings, financials).  This kernel walks the same
mismatch-tolerant DOM as the body path (:func:`htmlx.build_dom` — td/th/tr
auto-close, void elements, quoted ``>``) and emits a flat cell grid:

    (table_idx, row_idx, col_idx, is_header, cell_text)

Contract (replayed by the DuckDB oracle in ``oracle_sql()['table_extract']``
and unit-locked in ``tests/test_tables.py``):

- tables are indexed in document pre-order; a NESTED table is its own
  table_idx and its content is EXCLUDED from the enclosing cell's text
  (each text node belongs to exactly one table);
- rows are ``<tr>`` children in order; cells are ``<td>``/``<th>`` in
  order within their row — ``col_idx`` is the cell ordinal (rowspan and
  colspan do NOT shift positions; documented simplification, same choice
  as pandas.read_html's default grid for span-free tables);
- ``is_header`` is True for ``<th>`` cells;
- cell text = entity-decoded, whitespace-normalized concatenation of the
  cell's descendant text (nested non-table markup like ``<b>`` flattens in);
- stray text directly under ``<table>``/``<tr>`` (outside any cell) is
  dropped, as every real parser does;
- never raises: None/empty/garbled input yields an empty list.
"""

from __future__ import annotations

from news_rss_spark.kernel.htmlx import Node, build_dom, decode_entities
from corpus_lab.kernel.markup import _norm_text

__all__ = ["extract_tables"]

_CELL_TAGS = frozenset(("td", "th"))


def _cell_text(node: Node) -> str:
    """Flatten descendant text, skipping nested <table> subtrees and
    quirk-hoisted <tr> subtrees (see :func:`extract_tables`)."""
    parts: list[str] = []

    def walk(n: Node) -> None:
        for ch in n.children:
            if ch.tag is None:
                parts.append(ch.text)
            elif ch.tag not in ("table", "tr"):
                walk(ch)

    walk(node)
    return _norm_text(decode_entities("".join(parts)))


def extract_tables(html: str | None,
                   tokens: list | None = None
                   ) -> list[tuple[int, int, int, bool, str]]:
    """All tables in one document as a flat cell grid (see module
    contract).  Returns ``[(table_idx, row_idx, col_idx, is_header,
    cell_text), ...]`` in document order.  ``tokens`` shares a
    pre-tokenized page (fused-pass path); identical semantics."""
    if not html:
        return []
    out: list[tuple[int, int, int, bool, str]] = []
    counter = [0]  # next table_idx, shared across the recursion

    def handle_table(table: Node) -> None:
        tidx = counter[0]
        counter[0] += 1
        rows: list[Node] = []
        nested: list[Node] = []

        # The shared DOM builder's auto-close pops exactly ONE frame, so
        # source like "<td>a<tr>..." (cells and rows never closed — common
        # in the wild) nests the new <tr> UNDER the open cell.  The walker
        # hoists such rows back to table level instead of special-casing
        # the golden-locked DOM builder.
        def walk_rows(n: Node) -> None:
            # <thead>/<tbody>/<tfoot> wrappers are transparent; anything
            # else under <table> that isn't a <tr> is skipped (stray text)
            for ch in n.children:
                if ch.tag == "tr":
                    rows.append(ch)
                    hoist_from(ch)
                elif ch.tag in ("thead", "tbody", "tfoot"):
                    walk_rows(ch)
                elif ch.tag == "table":
                    nested.append(ch)

        def hoist_from(tr: Node) -> None:
            for ch in tr.children:
                if ch.tag in _CELL_TAGS:
                    scan_cell(ch)
                elif ch.tag == "table":
                    nested.append(ch)

        def scan_cell(cell: Node) -> None:
            for ch in cell.children:
                if ch.tag == "table":
                    nested.append(ch)
                elif ch.tag == "tr":  # quirk-hoisted row
                    rows.append(ch)
                    hoist_from(ch)
                elif ch.tag is not None:
                    scan_cell(ch)

        walk_rows(table)
        for row_idx, tr in enumerate(rows):
            col_idx = 0
            for cell in tr.children:
                if cell.tag in _CELL_TAGS:
                    out.append((tidx, row_idx, col_idx,
                                cell.tag == "th", _cell_text(cell)))
                    col_idx += 1
        for t in nested:  # nested tables index AFTER their parent completes
            handle_table(t)

    def _find_tables(n: Node) -> list[Node]:
        found: list[Node] = []
        for ch in n.children:
            if ch.tag == "table":
                found.append(ch)
            elif ch.tag is not None:
                found.extend(_find_tables(ch))
        return found

    for top in _find_tables(build_dom(html, tokens=tokens)):
        handle_table(top)
    return out
