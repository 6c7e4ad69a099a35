"""HTML table-extraction kernel + operator tests (kernel/tablex.py)."""

import pytest

from corpus_lab.kernel.tablex import extract_tables


def grid(cells):
    """index extracted cells by (table, row, col) -> (is_header, text)."""
    return {(t, r, c): (h, txt) for t, r, c, h, txt in cells}


class TestKernel:
    def test_basic_grid(self):
        g = grid(extract_tables(
            "<table><tr><th>A</th><th>B</th></tr>"
            "<tr><td>1</td><td>2</td></tr></table>"))
        assert g[(0, 0, 0)] == (True, "A")
        assert g[(0, 0, 1)] == (True, "B")
        assert g[(0, 1, 0)] == (False, "1")
        assert g[(0, 1, 1)] == (False, "2")
        assert len(g) == 4

    def test_thead_tbody_transparent(self):
        g = grid(extract_tables(
            "<table><thead><tr><th>H</th></tr></thead>"
            "<tbody><tr><td>x</td></tr><tr><td>y</td></tr></tbody></table>"))
        assert g[(0, 0, 0)] == (True, "H")
        assert g[(0, 1, 0)] == (False, "x")
        assert g[(0, 2, 0)] == (False, "y")

    def test_missing_close_tags_autoclose(self):
        # td/tr never closed — DOM auto-close must recover the grid
        g = grid(extract_tables(
            "<table><tr><td>a<td>b<tr><td>c<td>d</table>"))
        assert g[(0, 0, 0)][1] == "a" and g[(0, 0, 1)][1] == "b"
        assert g[(0, 1, 0)][1] == "c" and g[(0, 1, 1)][1] == "d"

    def test_nested_table_is_own_index_and_excluded(self):
        cells = extract_tables(
            "<table><tr><td>outer <table><tr><td>inner</td></tr></table>"
            "tail</td></tr></table>"
            "<table><tr><td>second</td></tr></table>")
        g = grid(cells)
        assert g[(0, 0, 0)][1] == "outer tail"  # nested content excluded
        assert g[(1, 0, 0)][1] == "inner"       # nested right after parent
        assert g[(2, 0, 0)][1] == "second"      # next top-level table after

    def test_markup_flattens_entities_decode(self):
        g = grid(extract_tables(
            "<table><tr><td><b>A &amp;</b>\n  <i>B</i></td></tr></table>"))
        assert g[(0, 0, 0)][1] == "A & B"

    def test_stray_text_outside_cells_dropped(self):
        g = grid(extract_tables(
            "<table>junk<tr>mid<td>real</td>tail</tr></table>"))
        assert list(g.values()) == [(False, "real")]

    def test_empty_and_none(self):
        assert extract_tables(None) == []
        assert extract_tables("") == []
        assert extract_tables("<p>no tables</p>") == []
        assert extract_tables("<table></table>") == []

    def test_empty_cells_kept(self):
        g = grid(extract_tables("<table><tr><td></td><td>x</td></tr></table>"))
        assert g[(0, 0, 0)] == (False, "")
        assert g[(0, 0, 1)] == (False, "x")

    def test_uppercase_and_attrs(self):
        g = grid(extract_tables(
            '<TABLE class="data"><TR><TD align="left">v</TD></TR></TABLE>'))
        assert g[(0, 0, 0)] == (False, "v")


class TestTableRecords:
    def test_melt_with_headers_and_fallback(self, spark):
        from corpus_lab.operators.tables import (
            extract_tables_df,
            table_records,
        )
        data = [
            ("a", "<table><tr><th>K</th><th>V</th></tr>"
                  "<tr><td>k1</td><td>v1</td></tr>"
                  "<tr><td>k2</td><td>v2</td></tr></table>"
                  "<table><tr><td>naked</td></tr></table>"),
        ]
        df = spark.createDataFrame(data, "doc_id string, html string")
        recs = {(r["table_idx"], r["row_idx"], r["col_name"]): r["value"]
                for r in table_records(extract_tables_df(df)).collect()}
        assert recs == {
            (0, 1, "K"): "k1", (0, 1, "V"): "v1",
            (0, 2, "K"): "k2", (0, 2, "V"): "v2",
            (1, 0, "c0"): "naked",
        }


class TestSparkOperator:
    @pytest.fixture(scope="class")
    def rows(self, spark):
        from corpus_lab.operators.tables import extract_tables_df
        data = [
            ("a", "<table><tr><th>H</th></tr><tr><td>v1</td></tr></table>"),
            ("b", "<p>none</p>"),
            ("c", None),
        ]
        df = spark.createDataFrame(data, "doc_id string, html string")
        return extract_tables_df(df).collect()

    def test_grid(self, rows):
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert "b" not in by_doc and "c" not in by_doc
        a = sorted(by_doc["a"], key=lambda r: (r["row_idx"], r["col_idx"]))
        assert [(r["row_idx"], r["is_header"], r["cell_text"]) for r in a] \
            == [(0, True, "H"), (1, False, "v1")]
