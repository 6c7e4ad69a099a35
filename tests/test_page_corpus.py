"""Page-corpus funnel composition tests (plans/page_corpus.py)."""

import pytest
from pyspark.sql import functions as F

GOOD_BODY = ("<p>This is a perfectly reasonable paragraph of body text "
             "with enough ordinary words that the quality gate keeps it "
             "and the boilerplate scorer renders it as the main "
             "content block of the page.</p>")


def mk_page(i, head="", body=None):
    if body is None:
        body = GOOD_BODY.replace("</p>", f" unique marker number {i}</p>")
    return (f"d{i:03d}",
            f"<html><head><title>T{i}</title>{head}</head>"
            f"<body>{body}</body></html>",
            "https://s.example/p/")


@pytest.fixture(scope="module")
def funnel(spark):
    from corpus_lab.plans.page_corpus import build_page_corpus
    pages = (
        [mk_page(i) for i in range(8)]                      # pass
        + [mk_page(i, head='<meta name="robots" content="noai">')
           for i in range(8, 11)]                           # policy drop
        + [mk_page(i, body="<p>short</p>") for i in range(11, 13)]
        + [mk_page(13, body=GOOD_BODY.replace("reasonable", "reasonab1e"))]
    )
    # an exact duplicate of page 0's content under a different id
    pages.append(("d900",) + mk_page(0)[1:])
    df = spark.createDataFrame(
        pages, "doc_id string, html string, base_url string")
    return build_page_corpus(df)


class TestPageCorpusFunnel:
    def test_counts(self, funnel):
        corpus, counts = funnel
        assert counts["input"] == 15
        assert counts["policy_pass"] == 12      # 3 noai pages dropped
        assert counts["quality_pass"] == 10     # 2 short pages gated
        assert counts["unique"] == 9            # dup of d000 collapsed
        assert corpus.count() == 9

    def test_keeper_is_min_doc_id(self, funnel):
        corpus, _ = funnel
        ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
        assert "d000" in ids and "d900" not in ids

    def test_survivors_carry_bundle_products(self, funnel):
        corpus, _ = funnel
        row = corpus.filter(F.col("doc_id") == "d000").collect()[0]
        assert row["title"] == "T0" and row["train_ok"]
        assert row["n_tokens"] > 10
        assert "reasonable paragraph" in row["text"]
