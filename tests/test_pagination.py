"""Pagination-chain assembly tests (operators/pagination.py)."""

import pytest
from pyspark.sql import functions as F

from corpus_lab.operators.pagination import (
    assemble_chain_texts,
    chain_positions,
)

PAGES = [
    # chain A: a1 -> a2 -> a3
    ("a1", "a2", "A part one."),
    ("a2", "a3", "A part two."),
    ("a3", None, "A part three."),
    # chain B: single page
    ("b1", None, "B alone."),
    # cycle: c1 -> c2 -> c1 (crawl trap; must stay unassigned)
    ("c1", "c2", "C1."),
    ("c2", "c1", "C2."),
]
DDL = "url string, next_url string, text string"


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(PAGES, DDL)


@pytest.fixture(scope="module")
def positions(pages):
    return chain_positions(pages)


class TestChainPositions:
    def test_chain_layout(self, positions):
        got = {r["url"]: (r["chain_id"], r["pos"])
               for r in positions.collect()}
        assert got["a1"] == ("a1", 0)
        assert got["a2"] == ("a1", 1)
        assert got["a3"] == ("a1", 2)
        assert got["b1"] == ("b1", 0)

    def test_cycle_unassigned(self, positions):
        urls = {r["url"] for r in positions.collect()}
        assert "c1" not in urls and "c2" not in urls

    def test_max_len_truncation(self, spark):
        rows = [(f"p{i}", f"p{i+1}" if i < 9 else None, f"t{i}")
                for i in range(10)]
        df = spark.createDataFrame(rows, DDL)
        pos = chain_positions(df, max_len=4)
        assert pos.count() == 4  # p0..p3 labeled, rest truncated

    def test_converging_heads_deterministic(self, spark):
        rows = [("h1", "shared", "x"), ("h2", "shared", "y"),
                ("shared", None, "z")]
        df = spark.createDataFrame(rows, DDL)
        got = {r["url"]: r["chain_id"]
               for r in chain_positions(df).collect()}
        assert got["shared"] == "h1"  # min chain_id wins
        a = sorted(map(tuple, chain_positions(df).collect()))
        b = sorted(map(tuple, chain_positions(df.repartition(5)).collect()))
        assert a == b


class TestAssembly:
    def test_full_text_order(self, pages, positions):
        got = {r["chain_id"]: (r["n_pages"], r["full_text"])
               for r in assemble_chain_texts(positions, pages).collect()}
        assert got["a1"] == (3, "A part one.\nA part two.\nA part three.")
        assert got["b1"] == (1, "B alone.")


class TestDanglingPointer:
    def test_dangling_next_not_emitted(self, spark):
        rows = [("p1", "p2", "a"), ("p2", "gone", "b")]
        df = spark.createDataFrame(rows, DDL)
        got = {r["url"] for r in chain_positions(df).collect()}
        assert got == {"p1", "p2"}
