"""TextRank keywords: hub words outrank leaves, the length filter and
window-2 adjacency hold, output order is total and deterministic."""

from pyspark.sql import functions as F

from corpus_lab.operators.textrank import (
    cooccurrence_edges,
    textrank_keywords,
)


def _corpus(spark):
    # 'network' is the hub: every sentence pairs it with a distinct leaf;
    # leaves only ever touch the hub.  'of' and 'ab' must be filtered.
    rows = [(i, f"network of leaf{chr(97 + i)}{chr(97 + i)} ab network")
            for i in range(12)]
    rows.append((99, None))
    rows.append((100, "solo"))  # one kept token -> no pair, no node
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hub_word_ranks_first(spark):
    out = textrank_keywords(_corpus(spark), k=5).collect()
    assert out[0]["word"] == "network"
    assert out[0]["rank"] > out[1]["rank"]
    others = {r["word"] for r in out[1:]}
    assert others <= {f"leaf{chr(97 + i)}{chr(97 + i)}" for i in range(12)}


def test_short_and_nonalpha_tokens_never_enter_graph(spark):
    words = {r["w1"] for r in cooccurrence_edges(_corpus(spark)).collect()}
    assert "of" not in words and "ab" not in words
    assert "solo" not in words  # single kept token: no adjacent pair
    assert "network" in words


def test_window2_adjacency_after_filtering(spark):
    """Filtering happens BEFORE windowing: 'network (of) leafaa'
    becomes an edge even though the raw tokens are not adjacent."""
    edges = {(r["w1"], r["w2"])
             for r in cooccurrence_edges(_corpus(spark)).collect()}
    assert ("network", "leafaa") in edges
    assert ("leafaa", "network") in edges  # both orientations


def test_deterministic_and_total_order(spark):
    a = [tuple(r) for r in textrank_keywords(_corpus(spark), k=25).collect()]
    b = [tuple(r) for r in textrank_keywords(_corpus(spark), k=25).collect()]
    assert a == b
    ranks = [r[1] for r in a]
    assert ranks == sorted(ranks, reverse=True)
    # ties (leaves are symmetric) break on word asc
    for (w1, r1), (w2, r2) in zip(a, a[1:]):
        if r1 == r2:
            assert w1 < w2


def test_leaf_symmetry_gives_equal_ranks(spark):
    """All 12 leaves are structurally identical -> identical rank (the
    9-digit rounding contract makes float equality meaningful)."""
    out = textrank_keywords(_corpus(spark), k=25).collect()
    leaf_ranks = {r["rank"] for r in out if r["word"].startswith("leaf")}
    assert len(leaf_ranks) == 1
