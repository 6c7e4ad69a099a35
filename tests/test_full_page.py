"""Fused full-page bundle == per-kernel products (operators/full_page.py)."""

import pytest
from pyspark.sql import functions as F

PAGES = [
    ("p1",
     '<html><head><meta property="og:title" content="OG one">'
     '<link rel="canonical" href="https://c.example/p/1"><title>T1</title>'
     "</head><body>"
     "<p>This paragraph is comfortably long enough to clear the block "
     "minimum and be kept as body text by the density scorer.</p>"
     '<p><a href="/a">alpha</a> <a href="b.html" rel="nofollow">beta</a></p>'
     "<table><tr><th>H</th></tr><tr><td>v</td></tr></table>"
     "</body></html>",
     "https://s.example/d/page.html"),
    ("p2", "<p>short</p>", "https://s.example/"),
    ("p3", None, "https://s.example/"),
]
SCHEMA = "doc_id string, html string, base_url string"


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(PAGES, SCHEMA)


@pytest.fixture(scope="module")
def bundle(spark, pages):
    from corpus_lab.operators.full_page import extract_page_bundle_df
    return {r["doc_id"]: r for r in extract_page_bundle_df(pages).collect()}


class TestFusedEqualsSeparate:
    def test_metadata_product(self, spark, pages, bundle):
        from corpus_lab.operators.metadata import extract_metadata_df
        sep = {r["doc_id"]: r for r in extract_metadata_df(pages).collect()}
        for did, want in sep.items():
            got = bundle[did]
            for f in ("headline", "author", "description", "canonical_url",
                      "image", "published", "title", "n_meta_tags"):
                assert got[f] == want[f], (did, f)

    def test_links_product(self, spark, pages, bundle):
        from corpus_lab.operators.links import extract_links_df
        sep = {}
        for r in extract_links_df(pages).collect():
            sep.setdefault(r["doc_id"], []).append(
                (r["target_url"], r["anchor_text"], r["nofollow"]))
        for did, row in bundle.items():
            got = [(x["target_url"], x["anchor_text"], x["nofollow"])
                   for x in row["links"]]
            assert got == sep.get(did, []), did

    def test_table_census_product(self, spark, pages, bundle):
        from corpus_lab.operators.tables import extract_tables_df
        counts = {r["doc_id"]: r["n"] for r in
                  extract_tables_df(pages).groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        for did, row in bundle.items():
            assert row["n_table_cells"] == counts.get(did, 0), did

    def test_spans_product(self, spark, bundle):
        from news_rss_spark.kernel.htmlx import extract_page_spans
        for did, html, _ in PAGES:
            want = [{"kind": k, "text": t, "media_ref": m}
                    for k, t, m in extract_page_spans(html or "")]
            got = [row.asDict() for row in bundle[did]["spans"]]
            assert got == want, did

    def test_policy_product(self, spark, bundle):
        from corpus_lab.operators.metadata import page_policy_df
        pages = spark.createDataFrame(
            PAGES + [("p4", '<html><head><meta name="robots" '
                            'content="noai"></head><body></body></html>',
                      "https://s.example/")], SCHEMA)
        from corpus_lab.operators.full_page import extract_page_bundle_df
        fused = {r["doc_id"]: r for r in
                 extract_page_bundle_df(pages).collect()}
        sep = {r["doc_id"]: r for r in page_policy_df(pages).collect()}
        for did in sep:
            for f in ("noindex", "noai", "train_ok"):
                assert fused[did][f] == sep[did][f], (did, f)
        assert fused["p4"]["train_ok"] is False

    def test_bundle_job_resume_idempotent(self, spark, tmp_path):
        """run_page_bundle_job: full-run -> resume skips all buckets;
        truncated lineage -> rerun restores a value-identical sink."""
        from corpus_lab.plans.pages import run_page_bundle_job
        rows = [(f"d{i}",
                 f'<html><head><title>T{i}</title></head><body><p>'
                 + ("body text long enough to be kept by the scorer "
                    * 3) + f'{i}</p><a href="/l{i % 7}">a</a>'
                 "</body></html>",
                 "https://s.example/x/") for i in range(200)]
        pages = spark.createDataFrame(rows, SCHEMA)
        sink = str(tmp_path / "sink")
        lineage = str(tmp_path / "lin")

        r1 = run_page_bundle_job(spark, pages, sink, lineage, "run1",
                                 n_buckets=16)
        assert r1.published_count == 200 and r1.lineage_buckets == 16

        def sink_hash():
            df = spark.read.parquet(sink)
            return sorted(
                (r["doc_id"], r["title"],
                 tuple((s["kind"], s["text"]) for s in r["spans"]),
                 tuple(x["target_url"] for x in r["links"]))
                for r in df.collect())

        h1 = sink_hash()
        r2 = run_page_bundle_job(spark, pages, sink, lineage, "run2",
                                 n_buckets=16)
        assert r2.skipped_buckets == 16 and r2.lineage_buckets == 0
        assert sink_hash() == h1

        # crash simulation: drop lineage rows for half the buckets
        lin = spark.read.parquet(lineage)
        kept = lin.filter("bucket % 2 = 0")
        kept.write.mode("overwrite").parquet(str(tmp_path / "lin2"))
        r3 = run_page_bundle_job(spark, pages, sink,
                                 str(tmp_path / "lin2"), "run3",
                                 n_buckets=16)
        assert r3.skipped_buckets == 8 and r3.lineage_buckets == 8
        assert sink_hash() == h1

    def test_degradation_shape(self, bundle):
        assert bundle["p3"]["spans"] == []
        assert bundle["p3"]["links"] == []
        assert bundle["p3"]["headline"] is None
        assert bundle["p3"]["n_table_cells"] == 0
        assert bundle["p1"]["headline"] == "OG one"
        assert [x["nofollow"] for x in bundle["p1"]["links"]] == [False, True]
        assert bundle["p1"]["n_table_cells"] == 2
